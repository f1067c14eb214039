"""Structured Streaming equivalents of fuel.server — file-source micro
batches with availableNow, and the stateful sessionizer."""

import collections
import os
import re
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from fuel_spark.ops import sketch
from fuel_spark.streaming import serve


@pytest.fixture()
def workdir():
    d = tempfile.mkdtemp(prefix="fuel_spark_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_events(spark, path):
    df = spark.createDataFrame(
        [(i, i % 3, f"e{i % 2}", float(i)) for i in range(100)],
        "event_id long, user_id long, event_type string, value double",
    ).withColumn("ts", F.timestamp_seconds(F.col("event_id") * 600))
    df.write.mode("overwrite").parquet(path)
    return df


def test_windowed_stream_matches_batch(spark, workdir):
    src = os.path.join(workdir, "src")
    sink = os.path.join(workdir, "sink")
    ckpt = os.path.join(workdir, "ckpt")
    batch_df = _write_events(spark, src)

    stream = serve.stream_events_from_files(
        spark, src,
        "event_id long, user_id long, event_type string, value double, ts timestamp",
    )
    q = serve.serve_batches(serve.windowed_counts(stream), sink, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(sink)
    batch = (
        batch_df.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    # append mode only emits windows the watermark has passed; at
    # availableNow termination the trailing ~watermark of windows is
    # retained as state, so emitted ⊂ batch with identical counts.
    assert 0 < got.count() <= batch.count()
    j = got.join(batch, ["window_start", "event_type"], "left")
    assert j.count() == got.count()
    assert j.where(got.n_events != batch.n_events).count() == 0


def test_sessionize_stateful_matches_batch_twin(spark, workdir):
    src = os.path.join(workdir, "src")
    sink = os.path.join(workdir, "sink")
    ckpt = os.path.join(workdir, "ckpt")
    _write_events(spark, src)

    stream = serve.stream_events_from_files(
        spark, src,
        "event_id long, user_id long, event_type string, value double, ts timestamp",
    )
    q = (
        serve.sessionize_stateful(stream, gap_sec=1800)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("sessions_out")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM sessions_out")
    # events per user arrive every 1800s (3 users, 600s global cadence)
    # → consecutive per-user gaps == gap_sec → single session per user
    assert got.select("user_id").distinct().count() == 3
    assert got.agg(F.sum("n_events")).first()[0] == 100


def test_sessionize_state_spans_micro_batches(spark, workdir):
    """A session continuing into a later micro-batch must re-emit its
    (user_id, session_id) with *cumulative* n_events/min_ts, and a
    gap must roll the session id forward from state."""
    src = os.path.join(workdir, "src")
    ckpt = os.path.join(workdir, "ckpt")
    schema = "user_id long, ts timestamp"

    def run(name):
        emitted = []
        q = (
            serve.sessionize_stateful(
                serve.stream_events_from_files(spark, src, schema), gap_sec=1800
            )
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _id: emitted.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return emitted

    def write(tag, secs):
        # the file source lists the top-level dir only: land each
        # micro-batch's part files flat under src with unique names
        tmp = os.path.join(workdir, f"tmp_{tag}")
        spark.createDataFrame([(1, s) for s in secs], "user_id long, sec long") \
            .coalesce(1) \
            .select("user_id", F.timestamp_seconds("sec").alias("ts")) \
            .write.mode("overwrite").parquet(tmp)
        for i, f in enumerate(sorted(os.listdir(tmp))):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(tmp, f), os.path.join(src, f"{tag}_{i}.parquet"))

    os.makedirs(src, exist_ok=True)
    write("b1", [0, 600, 1200])
    r1 = {(r.session_id): (r.n_events, r.min_ts, r.max_ts) for r in run("s1")}
    assert r1 == {1: (3, 0, 1200)}

    # batch 2: 1800 continues session 1 (gap 600); 99999 opens session 2
    write("b2", [1800, 99999])
    r2 = {(r.session_id): (r.n_events, r.min_ts, r.max_ts) for r in run("s2")}
    assert r2 == {1: (4, 0, 1800), 2: (1, 99999, 99999)}


def test_socket_serve_rate_source_round_trip(spark, workdir):
    """fuel-server round trip: rate source → foreachBatch socket push →
    raw client receives JSON rows."""
    import json
    import socket as socketlib
    import time

    server = serve.SocketBatchServer()
    client = socketlib.create_connection((server.host, server.port), timeout=10)
    client.settimeout(10)

    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "50")
        .load()
        .select(F.col("value"), (F.col("value") * 2).alias("doubled"))
    )
    q = serve.serve_over_socket(
        rate, server, os.path.join(workdir, "ckpt"), processing_time="1 seconds"
    )
    try:
        buf = b""
        deadline = time.time() + 60
        while b"\n" not in buf and time.time() < deadline:
            buf += client.recv(65536)
        lines = [l for l in buf.decode().split("\n") if l]
        assert lines, "no rows received over the socket"
        row = json.loads(lines[0])
        assert row["doubled"] == row["value"] * 2
    finally:
        q.stop()
        client.close()
        server.close()


def test_partition_push_sink_parallel_egress(spark, workdir):
    """Executor-parallel push: every partition opens its own
    connection to the collector and all rows arrive exactly once —
    the driver-collect-free tier of the serve facade."""
    import json
    import socket as socketlib
    import threading

    received = []
    done = threading.Event()
    srv = socketlib.socket(socketlib.AF_INET, socketlib.SOCK_STREAM)
    srv.setsockopt(socketlib.SOL_SOCKET, socketlib.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(16)
    host, port = srv.getsockname()
    conns = 0
    lock = threading.Lock()

    def serve_one(conn):
        buf = b""
        while True:
            chunk = conn.recv(65536)
            if not chunk:
                break
            buf += chunk
        with lock:
            received.extend(l for l in buf.decode().split("\n") if l)
        conn.close()

    def accept_loop():
        nonlocal conns
        srv.settimeout(30)
        while not done.is_set():
            try:
                conn, _ = srv.accept()
            except (OSError, TimeoutError):
                return
            with lock:
                conns += 1
            threading.Thread(target=serve_one, args=(conn,), daemon=True).start()

    threading.Thread(target=accept_loop, daemon=True).start()
    try:
        df = (
            spark.range(100)
            .repartition(4)
            .select(F.col("id"), (F.col("id") * 3).alias("tripled"))
        )
        sink = serve.partition_push_sink(host, port, flush_rows=10)
        sink(df, 0)
        import time

        deadline = time.time() + 30
        while time.time() < deadline:
            with lock:
                if len(received) == 100:
                    break
            time.sleep(0.1)
        with lock:
            rows = [json.loads(l) for l in received]
        assert len(rows) == 100
        assert {r["id"] for r in rows} == set(range(100))
        assert all(r["tripled"] == r["id"] * 3 for r in rows)
        assert conns == 4, f"expected one connection per partition, got {conns}"
    finally:
        done.set()
        srv.close()


def test_dedup_stream_drops_replays(spark, workdir):
    src = os.path.join(workdir, "src")
    ckpt = os.path.join(workdir, "ckpt")
    # each event replayed 3× (at-least-once source); times sit a day
    # past epoch 0 so no event-time equals the initial watermark
    df = spark.createDataFrame(
        [(i % 20, 86400 + i % 20 * 60) for i in range(60)], "event_id long, sec long"
    ).select("event_id", F.timestamp_seconds("sec").alias("ts"))
    df.write.mode("overwrite").parquet(src)

    stream = serve.stream_events_from_files(spark, src, "event_id long, ts timestamp")
    out = []
    q = (
        serve.dedup_stream(stream, ["event_id"])
        .writeStream.outputMode("append")
        .foreachBatch(lambda d, _i: out.extend(d.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(r.event_id for r in out) == list(range(20))


def test_interval_join_streams(spark, workdir):
    src_a = os.path.join(workdir, "a")
    src_b = os.path.join(workdir, "b")
    ckpt = os.path.join(workdir, "ckpt")
    # user 1: click at t=D+3600; impressions at D (in the 1h lookback)
    # and D+7250 (in the future → excluded); user 2 has no click
    D = 86400
    spark.createDataFrame(
        [(1, D + 3600)], "user_id long, sec long"
    ).select("user_id", F.timestamp_seconds("sec").alias("ts")) \
        .write.mode("overwrite").parquet(src_a)
    spark.createDataFrame(
        [(1, D), (1, D + 7250), (2, D + 3600)], "user_id long, sec long"
    ).select("user_id", F.timestamp_seconds("sec").alias("imp_ts")) \
        .write.mode("overwrite").parquet(src_b)

    clicks = serve.stream_events_from_files(spark, src_a, "user_id long, ts timestamp")
    imps = serve.stream_events_from_files(spark, src_b, "user_id long, imp_ts timestamp")
    out = []
    q = (
        serve.interval_join_streams(clicks, imps, "user_id", "ts", "imp_ts")
        .writeStream.outputMode("append")
        .foreachBatch(lambda d, _i: out.extend(d.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # only the impression 1h before the click, same user
    assert len(out) == 1
    assert out[0]["user_id"] == 1 and out[0]["imp_ts"].timestamp() == D


def _corpus_and_index(spark):
    from fuel_spark.ops.dedup import with_minhash_bands

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
         (2, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    return corpus, with_minhash_bands(corpus, "doc_id", "text")


def test_near_dup_screen_batch_semantics(spark):
    corpus, index = _corpus_and_index(spark)
    incoming = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
         (11, "completely unrelated fresh document with new words only")],
        "doc_id long, text string",
    )
    out = serve.near_dup_stream(incoming, index)
    kept = [r.doc_id for r in out.collect()]
    assert kept == [11]          # the near-copy of doc 1 is screened out
    assert out.columns == ["doc_id", "text"]


def test_near_dup_screen_streaming(spark, workdir):
    src = os.path.join(workdir, "docs")
    sink = os.path.join(workdir, "clean")
    ckpt = os.path.join(workdir, "ck")
    corpus, index = _corpus_and_index(spark)
    spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
         (11, "completely unrelated fresh document with new words only"),
         (12, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string").parquet(src)
    )
    clean = serve.near_dup_stream(stream, index)
    assert clean.isStreaming
    q = (
        clean.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = sorted(r.doc_id for r in spark.read.parquet(sink).collect())
    assert kept == [11]          # both index collisions screened out


def _run_to_sink(frame, workdir, name):
    """Run a file-source stream to a parquet sink with ``availableNow``.
    Returns the sink path, the last micro-batch's executed plan as node
    names (AQE's final plan), and the number of jobs of each batch in
    the query's ``runId`` job group."""
    sink = os.path.join(workdir, f"{name}_sink")
    q = (
        frame.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", os.path.join(workdir, f"{name}_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    plan = q._jsq.streamingQuery().lastExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    nodes = [
        re.match(r"[\s:+\-]*(?:\*\(\d+\) )?(\w+)", line).group(1)
        for line in plan.toString().splitlines()
    ]
    jobs = frame.sparkSession.sparkContext._jsc.sc().statusStore().jobsList(None)
    per_batch = collections.Counter()
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobGroup().isDefined() and job.jobGroup().get() == str(q.runId):
            batch = re.search(r"batch = (\d+)", job.description().get())
            per_batch[int(batch.group(1))] += 1
    return sink, nodes, per_batch


def _write_files(src, files):
    """One parquet file per entry of ``files`` (a list of row dicts),
    written without Spark, in name order."""
    import pandas as pd

    os.makedirs(src, exist_ok=True)
    for i, rows in enumerate(files):
        pd.DataFrame(rows).to_parquet(os.path.join(src, f"{i:03d}.parquet"))


def test_near_dup_screen_band_qualified_keys(spark, workdir):
    """A doc's band-b key matches index keys of band b only: a key that
    sits in the index under another band keeps the doc, a collision on
    any one band drops it, and a NULL index key never matches.  Batch
    and stream both equal a pure-Python set reference: a doc is kept
    iff no (b, band_key_b) pair is in the index, under SQL equality
    (a NULL text sketches to empty band keys, which match the empty
    keys of a NULL-text reference doc)."""
    from fuel_spark.ops.dedup import minhash_band_key_cols

    texts = {
        10: "cross band key only appears under another band here",
        11: "collides on band zero only with the reference index",
        12: "collides on band one only with the reference index",
        13: "collides on band two only with the reference index",
        14: None,
        15: "a fresh document that collides with nothing at all",
        16: "its band two key sits under band one in the index",
    }
    incoming = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    keys = {
        r.doc_id: (r.band_key_0, r.band_key_1, r.band_key_2)
        for r in minhash_band_key_cols(incoming, "doc_id", "text").collect()
    }
    entries = [
        (0, keys[10][1]), (1, keys[16][2]),
        (0, keys[11][0]), (1, keys[12][1]), (2, keys[13][2]),
        (1, ""),  # a NULL-text reference doc's band-1 key
        (0, None), (1, None), (2, None),
    ]
    index = spark.createDataFrame(
        [(100 + i, b, k) for i, (b, k) in enumerate(entries)],
        "doc_id long, band_id int, band_key string",
    )
    known = {(b, k) for b, k in entries if k is not None}
    want = {
        d for d, ks in keys.items()
        if not any((b, k) in known for b, k in enumerate(ks))
    }
    assert want == {10, 15, 16}
    assert keys[14] == ("", "", "")

    got = {r.doc_id for r in serve.near_dup_stream(incoming, index).collect()}
    assert got == want

    src = os.path.join(workdir, "bq_src")
    _write_files(src, [[{"doc_id": d, "text": t} for d, t in sorted(texts.items())]])
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    sink, _, _ = _run_to_sink(serve.near_dup_stream(stream, index), workdir, "bq")
    assert {r.doc_id for r in spark.read.parquet(sink).collect()} == want


def test_near_dup_stream_shares_one_broadcast_per_micro_batch(spark, workdir):
    """The B band joins read one materialized key set: each micro-batch
    plan holds one BroadcastExchange, B - 1 ReusedExchanges and no
    aggregate, and runs at most 2 jobs (the broadcast and the write)
    after the first batch.  The index is reloaded from parquet, as in
    production: the planner's size estimate of an in-memory
    ``with_minhash_bands`` plan is too large to broadcast, and AQE then
    shuffles each micro-batch before it switches to the broadcast."""
    bands = 3
    _, index = _corpus_and_index(spark)
    index.write.parquet(os.path.join(workdir, "nd_index"))
    index = spark.read.parquet(os.path.join(workdir, "nd_index"))
    src = os.path.join(workdir, "nd_src")
    _write_files(src, [
        [{"doc_id": 10 * f + j, "text": f"file {f} doc {j} with a few words"}
         for j in range(3)]
        for f in range(3)
    ])
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink, nodes, per_batch = _run_to_sink(
        serve.near_dup_stream(stream, index, bands=bands), workdir, "nd"
    )
    assert nodes.count("BroadcastExchange") == 1
    assert nodes.count("ReusedExchange") == bands - 1
    assert not [n for n in nodes if n.endswith("Aggregate")]
    assert sorted(per_batch) == [0, 1, 2]
    assert all(per_batch[b] <= 2 for b in (1, 2)), per_batch
    assert spark.read.parquet(sink).count() == 9


def test_static_side_screens_aggregate_only_at_build(spark, workdir):
    """bloom, segment and anomaly screens materialize their static side
    when the stream is built: no micro-batch plan aggregates it."""
    from fuel_spark.ops import sketch
    from fuel_spark.ops.dedup import segment_dedup

    members = spark.createDataFrame([(i,) for i in range(20)], "k bigint")
    bloom = sketch.bloom_build(members, "k", m_bits=512, k_hashes=3)
    _write_files(os.path.join(workdir, "k_src"), [[{"k": i} for i in range(0, 40, 3)]])
    keys = spark.readStream.schema("k long").parquet(os.path.join(workdir, "k_src"))

    ref = spark.createDataFrame(
        [(1, "alpha beta gamma delta tail words here now")], "doc_id long, text string"
    )
    seg_index = segment_dedup(ref, segment_words=4).select("seg_hash")
    _write_files(os.path.join(workdir, "d_src"), [[
        {"doc_id": 10, "text": "x y z w alpha beta gamma delta"},
        {"doc_id": 11, "text": "totally fresh words only every token unique"},
    ]])
    docs = spark.readStream.schema("doc_id long, text string").parquet(
        os.path.join(workdir, "d_src")
    )

    history = spark.createDataFrame(
        [("buy", 8.0 + i % 5) for i in range(20)], "event_type string, value double"
    )
    baseline = history.groupBy("event_type").agg(
        F.avg("value").alias("mean"), F.stddev("value").alias("std")
    )
    _write_files(os.path.join(workdir, "e_src"), [[
        {"event_type": "buy", "value": 10.0}, {"event_type": "buy", "value": 90.0},
    ]])
    events = spark.readStream.schema("event_type string, value double").parquet(
        os.path.join(workdir, "e_src")
    )

    screens = {
        "bloom": serve.bloom_screen_stream(keys, bloom, "k", 512, 3),
        "segment": serve.segment_screen_stream(docs, seg_index, segment_words=4),
        "anomaly": serve.anomaly_screen_stream(events, baseline),
    }
    got = {}
    for name, frame in screens.items():
        sink, nodes, _ = _run_to_sink(frame, workdir, name)
        assert not [n for n in nodes if n.endswith("Aggregate")], (name, nodes)
        got[name] = spark.read.parquet(sink).collect()
    assert all(r.bloom_hit for r in got["bloom"] if r.k < 20)
    assert [(r.doc_id, r.chunk_id) for r in got["segment"]] == [(10, 1)]
    assert sorted((r.value, r.is_anomaly) for r in got["anomaly"]) == [
        (10.0, False), (90.0, True)
    ]


def test_pack_tokens_stateful_spans_micro_batches(spark, workdir):
    """An open pack's fill must carry across micro-batches: batch 1
    under-fills (open re-emission, closed=False), batch 2 completes
    the SAME pack with cumulative members, then keeps packing."""
    src = os.path.join(workdir, "pk_src")
    ckpt = os.path.join(workdir, "pk_ckpt")
    schema = "shard long, doc_id long, ws_tokens long"

    def run(name):
        emitted = []
        q = (
            serve.pack_tokens_stateful(
                serve.stream_events_from_files(spark, src, schema), budget=300
            )
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _id: emitted.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return emitted

    def write(tag, rows):
        tmp = os.path.join(workdir, f"pk_tmp_{tag}")
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("overwrite").parquet(tmp)
        for i, f in enumerate(sorted(os.listdir(tmp))):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(tmp, f),
                            os.path.join(src, f"{tag}_{i}.parquet"))

    os.makedirs(src, exist_ok=True)
    write("b1", [(0, 1, 120), (0, 2, 100)])  # 220 < 300: pack 0 stays open
    r1 = {r.pack_id: r for r in run("p1")}
    assert r1[0].closed is False
    assert sorted(r1[0].doc_ids) == [1, 2] and r1[0].n_tokens == 220

    # batch 2: doc 3 (100) overflows 220+100 > 300 → pack 0 closes at
    # [1,2]; doc 3 starts pack 1; doc 4 (250) overflows again → pack 1
    # closes at [3]; doc 4 stays open in pack 2
    write("b2", [(0, 3, 100), (0, 4, 250)])
    r2 = {r.pack_id: r for r in run("p2")}
    assert r2[0].closed is True and sorted(r2[0].doc_ids) == [1, 2]
    assert r2[1].closed is True and list(r2[1].doc_ids) == [3]
    assert r2[2].closed is False and list(r2[2].doc_ids) == [4]
    assert r2[2].n_tokens == 250


def test_segment_screen_stream_flags_shared_segments(spark, workdir):
    """Streaming segment screen: a doc repeating a reference 4-word
    segment flags exactly that segment; fresh docs emit nothing.
    Stateless — one stream-static semi join, availableNow run."""
    boiler = "alpha beta gamma delta"
    ref = spark.createDataFrame(
        [(1, boiler + " tail words here now")], "doc_id long, text string"
    )
    from fuel_spark.ops.dedup import segment_dedup

    idx = segment_dedup(ref, segment_words=4).select("seg_hash")

    src = os.path.join(workdir, "docs")
    sink = os.path.join(workdir, "flagged")
    ckpt = os.path.join(workdir, "ck2")
    spark.createDataFrame(
        [(10, "x y z w " + boiler),       # segment 1 == boiler -> flag
         (11, "totally fresh words only every token unique")],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    flagged = serve.segment_screen_stream(stream, idx, segment_words=4)
    assert flagged.isStreaming
    q = (
        flagged.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = [(r.doc_id, r.chunk_id) for r in spark.read.parquet(sink).collect()]
    assert rows == [(10, 1)]


def test_url_dedup_stream_collapses_crawl_variants(spark, workdir):
    src = os.path.join(workdir, "url_src")
    ckpt = os.path.join(workdir, "url_ckpt")
    # the same logical page crawled as http/https/www/utm/slash
    # variants, plus one genuinely different page
    rows = [
        (1, "http://example.com/a/b?q=1", 86400),
        (2, "https://www.example.com/a/b/?utm_source=x&q=1", 86460),
        (3, "https://EXAMPLE.com/a/b?q=1#frag", 86520),
        (4, "https://example.com/other", 86580),
    ]
    spark.createDataFrame(
        rows, "page_id long, url string, sec long"
    ).select("page_id", "url", F.timestamp_seconds("sec").alias("ts")) \
        .write.mode("overwrite").parquet(src)

    stream = serve.stream_events_from_files(
        spark, src, "page_id long, url string, ts timestamp"
    )
    out = []
    q = (
        serve.url_dedup_stream(stream, "url")
        .writeStream.outputMode("append")
        .foreachBatch(lambda d, _i: out.extend(d.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    canon = sorted(r.canonical_url for r in out)
    assert canon == ["example.com/a/b?q=1", "example.com/other"]


def test_quality_screen_stream_matches_batch(spark, workdir):
    src = os.path.join(workdir, "q_src")
    ckpt = os.path.join(workdir, "q_ckpt")
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again today"),
        (2, "short"),
        (3, "Lorem ipsum dolor sit amet " * 5),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    out = []
    q = (
        serve.quality_screen_stream(stream, "doc_id", "text")
        .writeStream.outputMode("append")
        .foreachBatch(lambda d, _i: out.extend(d.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    from fuel_spark.ops.text import c4_filters

    batch = {r.doc_id: r for r in c4_filters(docs, "doc_id", "text").collect()}
    assert len(out) == 3
    for r in out:
        assert r == batch[r.doc_id]


def test_anomaly_screen_stream_flags_outliers(spark, workdir):
    """Stream-static anomaly screen: rows z-scored against a static
    per-type baseline; zero streaming state (availableNow run)."""
    import datetime as dt

    src = os.path.join(workdir, "an_src")
    ckpt = os.path.join(workdir, "an_ckpt")
    rows = [
        (1, dt.datetime(2024, 1, 1), "buy", 10.0),
        (2, dt.datetime(2024, 1, 1), "buy", 11.0),
        (3, dt.datetime(2024, 1, 1), "buy", 500.0),   # outlier
        (4, dt.datetime(2024, 1, 1), "view", 1.0),    # no baseline row
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    events.write.mode("overwrite").parquet(src)
    baseline = spark.createDataFrame(
        [("buy", 10.0, 2.0)], "event_type string, mean double, std double"
    )
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, event_type string, value double"
    ).parquet(src)
    out = []
    q = (
        serve.anomaly_screen_stream(stream, baseline, z_threshold=3.0)
        .writeStream.outputMode("append")
        .foreachBatch(lambda d, _i: out.extend(d.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.event_id: (r.z_score, r.is_anomaly) for r in out}
    assert got[1] == (0.0, False)
    assert got[2] == (0.5, False)
    assert got[3] == (245.0, True)
    assert got[4] == (None, False)  # unknown type: passes, never flags


def test_substring_screen_stream_matches_batch_seeds(spark, workdir):
    """Streaming substring screen: an incoming doc quoting a 6-word
    reference run emits exactly the seed matches the batch diagonal
    method would consume (2 seeds for a 6-word run at k=5), with the
    right positions on both sides; fresh docs emit nothing.
    Stateless — one stream-static inner join, availableNow run."""
    from pyspark.sql import functions as F

    from fuel_spark.ops.dedup import substring_seeds

    shared = "alpha bravo charlie delta echo foxtrot"
    ref = spark.createDataFrame(
        [(1, "lead in words " + shared + " trailing bits")],
        "doc_id long, text string",
    )
    idx = substring_seeds(ref, "doc_id", "text", seed_k=5).select(
        F.col("doc_id").alias("ref_doc"),
        F.col("pos").alias("ref_pos"),
        "gh",
    )

    src = os.path.join(workdir, "sub_docs")
    sink = os.path.join(workdir, "sub_flagged")
    ckpt = os.path.join(workdir, "sub_ck")
    spark.createDataFrame(
        [(10, "prefix " + shared + " suffix"),
         (11, "completely novel words without any overlap whatsoever")],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    flagged = serve.substring_screen_stream(stream, idx, seed_k=5)
    assert flagged.isStreaming
    q = (
        flagged.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = sorted(
        (r.doc_id, r.pos, r.ref_doc, r.ref_pos)
        for r in spark.read.parquet(sink).collect()
    )
    # shared run starts at word 2 in doc 10 and word 4 in the
    # reference; a 6-word run has two 5-gram seeds
    assert rows == [(10, 2, 1, 4), (10, 3, 1, 5)]


def test_drift_screen_stream_stable_vs_shifted(spark, workdir):
    """Windowed PSI against a static baseline: a window matching the
    baseline shape reads ~0, a window shifted into other bins trips
    the 0.25 alert.  One streaming aggregate (bins folded into
    conditional sums — chained aggs are illegal in streaming);
    availableNow run."""
    import datetime as dt

    src = os.path.join(workdir, "dr_src")
    ckpt = os.path.join(workdir, "dr_ckpt")
    rows = []
    eid = 0
    # window 1 (hour 0): half in bin 0, half in bin 1 - matches baseline
    for i in range(40):
        rows.append((eid, dt.datetime(2024, 1, 1, 0, i % 50),
                     float(10 if i % 2 else 60))); eid += 1
    # window 2 (hour 2): everything lands in bin 9 - full drift
    for i in range(40):
        rows.append((eid, dt.datetime(2024, 1, 1, 2, i % 50), 480.0)); eid += 1
    # watermark sentinel: append mode only emits CLOSED windows, so a
    # far-future event pushes the watermark past both test windows
    rows.append((eid, dt.datetime(2024, 1, 2, 12, 0), 0.0))
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, value double"
    ).write.mode("overwrite").parquet(src)
    baseline = spark.createDataFrame(
        [(0, 0.5), (1, 0.5)], "bin int, p double"
    )
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, value double"
    ).parquet(src)
    out = []
    q = (
        serve.drift_screen_stream(stream, baseline)
        .writeStream.outputMode("append")
        .foreachBatch(lambda d, _i: out.extend(d.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.window_start.hour: r for r in out}
    assert got[0].psi < 0.001 and not got[0].drifted
    assert got[2].psi > 5.0 and got[2].drifted
    assert got[0].n == 40 and got[2].n == 40


def test_drift_screen_stream_day_grain(spark, workdir):
    """The day-grain production cadence (VERDICT r5 ask #7): the same
    screen windowed at '1 day' with a '2 days' watermark — a stable
    day reads ~0 PSI, a drifted day trips the alert, and window
    bounds land on calendar-day edges.  Hand-expected PSI for the
    drifted day is checked against the closed-form sum."""
    import datetime as dt
    import math

    src = os.path.join(workdir, "drday_src")
    ckpt = os.path.join(workdir, "drday_ckpt")
    rows = []
    eid = 0
    # day 1: half bin 0, half bin 1 — matches baseline exactly
    for i in range(48):
        rows.append((eid, dt.datetime(2024, 3, 1, i % 24, 7),
                     float(10 if i % 2 else 60))); eid += 1
    # day 2: 3/4 bin 0, 1/4 bin 1 — mild real-world drift
    for i in range(48):
        rows.append((eid, dt.datetime(2024, 3, 2, i % 24, 7),
                     float(10 if i % 4 else 60))); eid += 1
    # sentinel: close both day windows past the 2-day watermark
    rows.append((eid, dt.datetime(2024, 3, 6, 12, 0), 0.0))
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, value double"
    ).write.mode("overwrite").parquet(src)
    baseline = spark.createDataFrame(
        [(0, 0.5), (1, 0.5)], "bin int, p double"
    )
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, value double"
    ).parquet(src)
    out = []
    q = (
        serve.drift_screen_stream(
            stream, baseline,
            window_duration="1 day", watermark="2 days",
        )
        .writeStream.outputMode("append")
        .foreachBatch(lambda d, _i: out.extend(d.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.window_start.day: r for r in out}
    assert got[1].window_start.hour == 0 and got[1].n == 48
    assert got[1].psi < 0.001 and not got[1].drifted
    # day 2 closed form: p=(0.75,0.25) vs q=(0.5,0.5)
    exp = (0.75 - 0.5) * math.log(0.75 / 0.5) + (0.25 - 0.5) * math.log(
        0.25 / 0.5
    )
    assert got[2].psi == round(exp, 6)
    assert got[2].n == 48


def test_heavy_hitters_stream_bounded_state_and_mg_bound(spark, workdir):
    """Two micro-batches (maxFilesPerTrigger=1), one shard, k=8: each
    batch brings 100 hits on key 7 plus 20 one-off keys, so every
    prune subtracts the (k+1)-th count of 1 — the final summary must
    be exactly {7: 198} (true 200, underestimate 2, far inside the
    N/(k+1)=26.7 MG bound) and never exceed k rows."""
    import pandas as pd

    src = os.path.join(workdir, "hh_src")
    ckpt = os.path.join(workdir, "hh_ckpt")
    os.makedirs(src)
    for b, tail0 in ((0, 1000), (1, 2000)):
        rows = [(7,)] * 100 + [(tail0 + i,) for i in range(20)]
        pd.DataFrame(rows, columns=["user_id"]).to_parquet(
            os.path.join(src, f"{b:03d}.parquet")
        )
    stream = (
        spark.readStream.schema("user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    batches = []
    q = (
        serve.heavy_hitters_stream(stream, "user_id", k=8, num_shards=1)
        .writeStream.outputMode("update")
        .foreachBatch(lambda d, i: batches.append((i, d.collect())))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = [rows for _, rows in batches if rows]
    assert len(emitted) >= 2  # state carried across micro-batches
    for rows in emitted:
        assert len(rows) <= 8  # bounded state, every batch
    final = {r.key: r.count_min for r in emitted[-1]}
    assert final == {7: 198}


# sketch -> (batch builder over (g string, k long), its cell columns,
# the engine's stateful operator it runs as on a stream)
SKETCH_BUILDERS = {
    "cms": (lambda d: sketch.cms_build(d, "k", depth=3, width=64),
            ("row_id", "col_id"), "StateStoreSave"),
    "hll": (lambda d: sketch._hll_registers(d, "g", "k", 32, 13),
            ("g", "_b"), "StateStoreSave"),
    "bloom": (lambda d: sketch.bloom_build(d, "k", 128, 3, group_col="g"),
              ("g", "pos"), "StreamingDeduplicate"),
}


@pytest.mark.parametrize("name", sorted(SKETCH_BUILDERS))
def test_sketch_builder_on_a_stream_equals_batch_sketch(spark, workdir, name):
    """A batch sketch builder applied to a file stream (one file per
    micro-batch) is the streaming sketch: the latest update-mode
    emission per cell, over >= 2 micro-batches whose keys overlap,
    equals the batch builder over the union cell for cell.  Its state
    is the engine's state store (no Python state), and no emission is
    larger than the final cell table."""
    import pandas as pd

    from fuel_spark.sources import from_rows

    build, cell_cols, operator = SKETCH_BUILDERS[name]
    src = os.path.join(workdir, "src")
    os.makedirs(src)
    all_rows = []
    for b in range(3):
        rows = [("g%d" % (i % 2), b * 5 + i % 13) for i in range(60)]
        all_rows += rows
        pd.DataFrame(rows, columns=["g", "k"]).to_parquet(
            os.path.join(src, f"{b:03d}.parquet")
        )
    stream = (
        spark.readStream.schema("g string, k long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    batches = []
    q = (
        build(stream)
        .writeStream.outputMode("update")
        .foreachBatch(lambda d, i: batches.append(d.collect()))
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    plan = q._jsq.streamingQuery().lastExecution().executedPlan().toString()
    assert operator in plan
    assert "FlatMapGroupsInPandasWithState" not in plan

    def cells(rows):
        return {tuple(r[c] for c in cell_cols): tuple(r) for r in rows}

    want = cells(build(from_rows(spark, all_rows,
                                 schema="g string, k long")).collect())
    emitted = [rows for rows in batches if rows]
    assert len(emitted) >= 2
    assert all(len(rows) <= len(want) for rows in emitted)
    latest = {}
    for rows in emitted:
        latest.update(cells(rows))
    assert latest == want


def test_bloom_screen_stream_no_false_negatives(spark, workdir):
    """Stream candidates 0..99 against a static bloom of members
    0..49: every member must flag (no false negatives); append mode,
    zero streaming state."""
    import pandas as pd

    from fuel_spark.ops import sketch
    from fuel_spark.sources import from_rows

    src = os.path.join(workdir, "bl_src")
    ckpt = os.path.join(workdir, "bl_ckpt")
    os.makedirs(src)
    pd.DataFrame([(i,) for i in range(100)], columns=["k"]).to_parquet(
        os.path.join(src, "000.parquet")
    )
    members = from_rows(spark, [(i,) for i in range(50)], schema="k bigint")
    bloom = sketch.bloom_build(members, "k", m_bits=4096, k_hashes=3)
    stream = spark.readStream.schema("k long").parquet(src)
    got = []
    q = (
        serve.bloom_screen_stream(stream, bloom, "k", 4096, 3)
        .writeStream.outputMode("append")
        .foreachBatch(lambda d, i: got.extend(d.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    hits = {r.k: r.bloom_hit for r in got}
    assert len(hits) == 100
    assert all(hits[i] for i in range(50))          # no false negatives
    fp = sum(1 for i in range(50, 100) if hits[i])
    assert fp <= 10
    # batch twin agrees key-for-key
    cands = from_rows(spark, [(i,) for i in range(100)], schema="k bigint")
    batch = {r.k: r.bloom_hit for r in
             sketch.bloom_screen(cands, bloom, "k", 4096, 3).collect()}
    assert hits == batch


def test_kmv_stream_equals_batch_certificate(spark, workdir):
    """Two micro-batches; the streamed KMV's final emission must equal
    the batch kmv_distinct_certificate over the union (same md5 seed),
    and every emission holds <= k sketch rows (bounded state)."""
    import pandas as pd

    from fuel_spark.ops import sketch
    from fuel_spark.sources import from_rows

    src = os.path.join(workdir, "kmv_src")
    ckpt = os.path.join(workdir, "kmv_ckpt")
    os.makedirs(src)
    all_rows = []
    for b in range(2):
        rows = [("g", b * 500 + i) for i in range(200)]
        all_rows += rows
        pd.DataFrame(rows, columns=["g", "user_id"]).to_parquet(
            os.path.join(src, f"{b:03d}.parquet")
        )
    stream = (
        spark.readStream.schema("g string, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    batches = []
    q = (
        serve.kmv_stream(stream, "g", "user_id", k=16)
        .writeStream.outputMode("update")
        .foreachBatch(lambda d, i: batches.append((i, d.collect())))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = [rows for _, rows in batches if rows]
    assert len(emitted) >= 2
    for rows in emitted:
        assert len(rows) == 1
        assert rows[0].n_sketch <= 16            # bounded state, every batch
    final = emitted[-1][0]
    static = from_rows(spark, all_rows, schema="g string, user_id long")
    cert = sketch.kmv_distinct_certificate(
        static, "g", "user_id", k=16
    ).collect()[0]
    assert final.n_sketch == cert.n_sketch
    assert final.theta == cert.theta
    assert final.est_distinct == cert.est_distinct


def test_kll_stream_bounded_state_and_envelope(spark, workdir):
    """Three micro-batches of 400 values: every emission's
    total_weight must equal the rows seen so far (exact weight
    conservation), the final estimates must sit inside a loose KLL
    rank envelope vs the exact quantiles, and the stored ladder stays
    bounded."""
    import pandas as pd

    src = os.path.join(workdir, "kll_src")
    ckpt = os.path.join(workdir, "kll_ckpt")
    os.makedirs(src)
    all_vals = []
    for b in range(3):
        vals = [((i * 37 + b * 401) % 1200) / 1.0 for i in range(400)]
        all_vals += vals
        pd.DataFrame({"g": "g", "value": vals}).to_parquet(
            os.path.join(src, f"{b:03d}.parquet")
        )
    stream = (
        spark.readStream.schema("g string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    batches = []
    q = (
        serve.kll_stream(stream, "g", "value", k=64)
        .writeStream.outputMode("update")
        .foreachBatch(lambda d, i: batches.append((i, d.collect())))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = [rows for _, rows in batches if rows]
    assert len(emitted) >= 3
    weights = [rows[0].total_weight for rows in emitted]
    assert weights == [400, 800, 1200]
    final = {r.prob: r for r in emitted[-1]}
    n = len(all_vals)
    s = sorted(all_vals)
    for p, r in final.items():
        exact_rank = sum(1 for v in all_vals if v <= r.est_value)
        # loose KLL envelope: within 10% of n for k=64
        assert abs(exact_rank - p * n) <= 0.1 * n
        assert r.est_value in s


def test_kll_stream_single_batch_equals_batch_sketch(spark, workdir):
    """One batch, one shard: the streamed ladder IS the canonical
    fold — the quantile table must equal a pure-Python replay of the
    SAME shared kll_compact_ladder/kll_readout over the same arrival
    order (the batch op re-shards via ensure_parallelism, so the
    reference here is the shared fold itself)."""
    import pandas as pd

    from fuel_spark.ops import sketch

    src = os.path.join(workdir, "kll1_src")
    ckpt = os.path.join(workdir, "kll1_ckpt")
    os.makedirs(src)
    vals = [((i * 193) % 1000) / 7.0 for i in range(900)]
    pd.DataFrame({"g": "g", "value": vals}).to_parquet(
        os.path.join(src, "000.parquet")
    )
    stream = (
        spark.readStream.schema("g string, value double").parquet(src)
    )
    batches = []
    q = (
        serve.kll_stream(stream, "g", "value", k=32)
        .writeStream.outputMode("update")
        .foreachBatch(lambda d, i: batches.append(d.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {r.prob: r for rows in batches if rows for r in rows}
    levels = [[]]
    k = 32
    idx = 0
    while idx < len(vals):
        space = max(1, k + 1 - len(levels[0]))
        levels[0].extend(vals[idx : idx + space])
        idx += space if space <= len(vals) - (idx) else len(vals) - idx
        if len(levels[0]) > k:
            levels = sketch.kll_compact_ladder(levels, k)
    got = {p: (ev, erw, tw) for p, ev, erw, tw in sketch.kll_readout(
        levels, (0.25, 0.5, 0.75, 0.9, 0.99))}
    assert set(streamed) == set(got)
    for p, (ev, erw, tw) in got.items():
        assert streamed[p].est_value == ev
        assert streamed[p].total_weight == tw == 900
        assert streamed[p].est_rank_weight == erw


def test_sessionize_native_batch_twin_and_streaming_close(spark, workdir):
    """Native session_window: on a batch frame it must reproduce
    events_sessionize's sessions (count, sizes, durations); on a
    stream, the watermark closes the early sessions once a later
    batch advances event time past end + delay."""
    import datetime as dt

    import pandas as pd

    from fuel_spark.plans import analytics
    from fuel_spark.sources import from_rows

    base = dt.datetime(2024, 3, 1, 8, 0, 0)
    rows = [
        {"user_id": 1, "ts": base},
        {"user_id": 1, "ts": base + dt.timedelta(minutes=10)},
        {"user_id": 1, "ts": base + dt.timedelta(minutes=50)},  # gap>30m
        {"user_id": 2, "ts": base},
    ]
    df = from_rows(spark, [
        {"event_id": i, "user_id": r["user_id"], "event_type": "view",
         "value": 1.0, "props": "{}", "ts": r["ts"]}
        for i, r in enumerate(rows)
    ])
    nat = sorted(
        (r.user_id, r.n_events, r.duration_sec)
        for r in serve.sessionize_native(df, gap_sec=1800).collect()
    )
    twin = sorted(
        (r.user_id, r.n_events, r.duration_sec)
        for r in analytics.events_sessionize({"events": df}).collect()
    )
    assert nat == twin == [(1, 1, 0), (1, 2, 600), (2, 1, 0)]

    # streaming: batch 2 sits 3h later, so its arrival closes batch 1's
    # sessions past the 1h watermark
    src = os.path.join(workdir, "sn_src")
    ckpt = os.path.join(workdir, "sn_ckpt")
    os.makedirs(src)
    b1 = pd.DataFrame({
        "user_id": [1, 1, 2],
        "ts": [base, base + dt.timedelta(minutes=10), base],
    })
    b2 = pd.DataFrame({"user_id": [9], "ts": [base + dt.timedelta(hours=3)]})
    # pandas defaults to TIMESTAMP(NANOS), which this session reads
    # as long (the nanosAsLong gotcha) — coerce to microseconds
    b1.to_parquet(os.path.join(src, "000.parquet"),
                  coerce_timestamps="us", allow_truncated_timestamps=True)
    b2.to_parquet(os.path.join(src, "001.parquet"),
                  coerce_timestamps="us", allow_truncated_timestamps=True)
    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = []
    q = (
        serve.sessionize_native(stream, gap_sec=1800)
        .writeStream.outputMode("append")
        .foreachBatch(lambda d, i: got.extend(d.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    closed = sorted((r.user_id, r.n_events, r.duration_sec) for r in got)
    assert closed == [(1, 2, 600), (2, 1, 0)]


def test_sessionize_native_merges_across_batches(spark, workdir):
    """The engine-side window MERGE: a user's events split across two
    micro-batches 10 minutes apart (inside the 30-min gap) must close
    as ONE session spanning both batches, not two."""
    import datetime as dt

    import pandas as pd

    base = dt.datetime(2024, 3, 1, 8, 0, 0)
    src = os.path.join(workdir, "snm_src")
    ckpt = os.path.join(workdir, "snm_ckpt")
    os.makedirs(src)
    b1 = pd.DataFrame({"user_id": [1], "ts": [base]})
    b2 = pd.DataFrame({
        "user_id": [1, 9],
        "ts": [base + dt.timedelta(minutes=10),
               base + dt.timedelta(hours=4)],
    })
    for i, b in enumerate((b1, b2)):
        b.to_parquet(os.path.join(src, f"{i:03d}.parquet"),
                     coerce_timestamps="us", allow_truncated_timestamps=True)
    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = []
    q = (
        serve.sessionize_native(stream, gap_sec=1800)
        .writeStream.outputMode("append")
        .foreachBatch(lambda d, i: got.extend(d.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    closed = [(r.user_id, r.n_events, r.duration_sec) for r in got]
    # exactly one closed session for user 1, spanning both batches
    assert closed == [(1, 2, 600)]


def test_cms_resume_certificate_state_survives_restart(spark, workdir):
    """The resume certificate's whole claim, end to end: slice 2 is
    fed in a SECOND availableNow run against the same checkpoint, so
    the emitted cells can only equal the batch sketch of the WHOLE
    input if the state store restored run 1's counters.  Also pins
    the harness contract: a real restart happened (two runs, one
    checkpoint) rather than one run seeing both slices."""
    import pandas as pd

    from fuel_spark.ops import sketch
    from fuel_spark.sources import from_rows

    rows = [(i % 17,) for i in range(300)]
    df = from_rows(spark, rows, schema="user_id long")
    cells = serve.cms_resume_certificate(
        spark, df, "user_id", workdir=workdir, depth=3, width=32
    )
    got = {(r.row_id, r.col_id): r.cnt for r in cells.collect()}
    batch = sketch.cms_build(
        df.select(F.col("user_id").cast("long").alias("k")), "k",
        depth=3, width=32,
    )
    want = {(r.row_id, r.col_id): r.cnt for r in batch.collect()}
    assert got == want and sum(got.values()) == 3 * 300
    # the checkpoint carries >= 2 committed batches (one per run) —
    # the restart actually exercised state recovery
    import os

    commits = os.listdir(os.path.join(workdir, "ckpt", "commits"))
    assert len([c for c in commits if not c.startswith(".")]) >= 2


def test_kmv_resume_certificate_matches_batch(spark, workdir):
    """KMV resume: run 2 restores the (hashes, keys) arrays from the
    checkpoint, so the final per-group emission equals the batch
    kmv_distinct_certificate estimate columns over the whole input —
    including a below-k group (exact path, theta 2.0)."""
    from fuel_spark.ops import sketch
    from fuel_spark.sources import from_rows

    rows = [("big", i * 7 % 97) for i in range(400)]   # 97 distinct > k
    rows += [("small", i) for i in range(9)]           # 9 distinct < k
    df = from_rows(spark, rows, schema="g string, u long")
    got = {
        r.group: r
        for r in serve.kmv_resume_certificate(
            spark, df, "g", "u", workdir=workdir, k=16, seed=7
        ).collect()
    }
    want = {
        r.g: r
        for r in sketch.kmv_distinct_certificate(
            df, "g", "u", k=16, seed=7
        ).collect()
    }
    assert set(got) == {"big", "small"}
    for g in got:
        assert got[g].n_sketch == want[g].n_sketch, g
        assert got[g].theta == want[g].theta, g
        assert got[g].est_distinct == want[g].est_distinct, g
    assert got["small"].theta == 2.0
    assert got["small"].est_distinct == 9.0


def test_hll_resume_certificate_matches_batch_registers(spark, workdir):
    """HLL resume: run 2 restores the register-maxima array, so the
    final register table equals the batch _hll_registers over the
    whole input cell-for-cell — the all-integer resume certificate
    (no float surface at all)."""
    from fuel_spark.ops.sketch import _hll_registers
    from fuel_spark.sources import from_rows

    rows = [("t%d" % (i % 3), i * 11 % 211) for i in range(500)]
    df = from_rows(spark, rows, schema="g string, u long")
    got = {
        (r.group, r.b): r.max_rank
        for r in serve.hll_resume_certificate(
            spark, df, "g", "u", workdir=workdir, m=32, seed=13
        ).collect()
    }
    want = {
        (r.g, r["_b"]): r["_m"]
        for r in _hll_registers(
            df.select("g", F.col("u").cast("long").alias("k")),
            "g", "k", 32, 13,
        ).collect()
    }
    assert got == want and len(got) > 0


def test_bloom_resume_certificate_matches_batch_positions(spark, workdir):
    """Bloom-build resume: run 2 ORs new bits into the restored set,
    so the final position set equals the batch bloom_build position
    table per group — the set-bits member of the resume family."""
    from fuel_spark.ops.sketch import bloom_build
    from fuel_spark.sources import from_rows

    rows = [("g%d" % (i % 2), i * 13 % 301) for i in range(400)]
    df = from_rows(spark, rows, schema="g string, u long")
    got = {}
    for r in serve.bloom_resume_certificate(
        spark, df, "g", "u", workdir=workdir, m_bits=128, k_hashes=3,
        seed=5,
    ).collect():
        got.setdefault(r.group, set()).add(r.pos)
    want = {}
    for g in ("g0", "g1"):
        sub = df.where(F.col("g") == g).select(
            F.col("u").cast("long").alias("k")
        )
        want[g] = {r.pos for r in
                   bloom_build(sub, "k", m_bits=128, k_hashes=3,
                               seed=5).collect()}
    assert got == want and all(len(v) > 0 for v in want.values())


def test_kmv_resume_covers_group_absent_from_final_slice(spark, workdir):
    """Skewed-fixture regression (r9, ADVICE): a group whose keys ALL
    fall in run 1's residue class (key mod n_runs == 0) is never
    touched by the final run, so its state is only ever emitted by an
    earlier run — the harness must accumulate emissions across ALL
    runs (latest-wins per group) or the group silently vanishes from
    the certificate while present in the batch oracle."""
    from fuel_spark.ops import sketch
    from fuel_spark.sources import from_rows

    # "stuck" has only even keys → residue 0 of 2 runs; "live" has both
    rows = [("stuck", 2 * i) for i in range(40)]
    rows += [("live", i) for i in range(40)]
    df = from_rows(spark, rows, schema="g string, u long")
    got = {
        r.group: r
        for r in serve.kmv_resume_certificate(
            spark, df, "g", "u", workdir=workdir, k=16, seed=7, n_runs=2
        ).collect()
    }
    want = {
        r.g: r
        for r in sketch.kmv_distinct_certificate(
            df, "g", "u", k=16, seed=7
        ).collect()
    }
    assert set(got) == {"stuck", "live"}, "group dropped by the harness"
    for g in got:
        assert got[g].n_sketch == want[g].n_sketch, g
        assert got[g].theta == want[g].theta, g
        assert got[g].est_distinct == want[g].est_distinct, g


def test_window_counts_resume_matches_batch(spark, workdir):
    """Tumbling-window counts across a checkpoint restart equal the
    batch aggregation — the engine's window-state store restored."""
    import datetime as dt

    from fuel_spark.sources import from_rows

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (i, base + dt.timedelta(minutes=7 * i), "t%d" % (i % 2), 1.0)
        for i in range(40)
    ]
    df = from_rows(
        spark, rows,
        schema="event_id long, ts timestamp, event_type string, value double",
    )
    got = {
        (r.window_start_sec, r.event_type): r.n_events
        for r in serve.window_counts_resume_certificate(
            spark, df, workdir=workdir
        ).collect()
    }
    want: dict = {}
    for i, ts, typ, _ in rows:
        ws = int(ts.replace(minute=0, second=0).timestamp())
        want[(ws, typ)] = want.get((ws, typ), 0) + 1
    assert got == want
    import os

    commits = os.listdir(os.path.join(workdir, "ckpt", "commits"))
    assert len([c for c in commits if not c.startswith(".")]) >= 2


def test_running_agg_resume_exact_sum(spark, workdir):
    """Per-type count/min/max/decimal-sum across a restart: a lost
    partial sum would be invisible in counts — the sum catches it."""
    import datetime as dt

    from fuel_spark.sources import from_rows

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base, "a" if i % 3 else "b", float(i) + 0.125)
        for i in range(30)
    ]
    df = from_rows(
        spark, rows,
        schema="event_id long, ts timestamp, event_type string, value double",
    )
    got = {r.event_type: r for r in serve.running_agg_resume_certificate(
        spark, df, workdir=workdir
    ).collect()}
    for typ in ("a", "b"):
        vals = [v for (i, _, t, v) in rows if t == typ]
        assert got[typ].n_events == len(vals)
        assert got[typ].min_value == min(vals)
        assert got[typ].max_value == max(vals)
        assert abs(got[typ].sum_value - sum(vals)) < 1e-9


def test_sessionize_resume_merges_across_restart(spark, workdir):
    """The hard restart shape: a session whose events land in
    DIFFERENT runs (event_id parity) must be restored and MERGED by
    run 2 — a broken restore reads two half-sessions."""
    import datetime as dt

    from fuel_spark.sources import from_rows

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: one true session, halves split across runs
        (0, 1, base),
        (1, 1, base + dt.timedelta(seconds=60)),
        (2, 1, base + dt.timedelta(seconds=120)),
        # user 2: two well-separated sessions, both in run 0
        (4, 2, base),
        (6, 2, base + dt.timedelta(seconds=5000)),
    ]
    df = from_rows(
        spark, rows, schema="event_id long, user_id long, ts timestamp"
    )
    got = sorted(
        (r.user_id, r.session_start_sec, r.n_events, r.duration_sec)
        for r in serve.sessionize_resume_certificate(
            spark, df, workdir=workdir
        ).collect()
    )
    b = int(base.timestamp())
    assert got == [
        (1, b, 3, 120),
        (2, b, 1, 0),
        (2, b + 5000, 1, 0),
    ]
