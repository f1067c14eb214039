"""``screen``: new documents screened against a frozen MinHash index.

Set-up builds the band index of a reference corpus with
``dedup.with_minhash_bands`` and writes it through the sink.  Then
``streaming.serve.near_dup_stream`` runs over a parquet file source in
two phases:

- drain: staged files, ``availableNow``, one file per trigger (closed
  loop).  Its first micro-batch is the cold pass; the rest give the
  drain rate.
- paced: an open loop.  After one untimed file, tiny files are renamed
  into the source directory on a fixed schedule that does not slow when
  the query does.  A file's latency runs from its due time to the commit of the
  micro-batch that read it.

Every file's surviving rows must equal ``near_dup_stream`` applied in
batch to the same files.
"""

from __future__ import annotations

import math
import os
import time

import pyarrow.parquet as pq

import gen
import stats

SCHEMA = "doc_id bigint, text string, src_id bigint"
ITEMS = "docs_per_s"
PROGRESS_KEYS = {
    "trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning", "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets", "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch",
}


def wait_for(cond, timeout: float, what: str):
    t_end = time.monotonic() + timeout
    while not cond():
        if time.monotonic() > t_end:
            raise TimeoutError(what)
        time.sleep(0.02)


def run(ctx):
    from fuel_spark.ops import dedup
    from fuel_spark.sources import sink
    from fuel_spark.streaming import serve

    p = ctx.params
    spark = ctx.spark
    drain_n = p["drain_files"]
    paced_n = 1 + max(p["paced_min_files"], math.ceil(p["paced_files_per_s"] * ctx.seconds))
    sizes = [p["drain_docs_per_file"]] * drain_n + [p["paced_docs_per_file"]] * paced_n
    index_times = []

    def make(d):
        ref = gen.corpus(ctx.seed, p["reference"])
        gen.write(ref, os.path.join(d, "reference", "part-0.parquet"))
        arr = gen.arrivals(ctx.seed, ref, p, sum(sizes))
        names, at = [], 0
        for i, k in enumerate(sizes):
            name = f"{'drain' if i < drain_n else 'paced'}-{i:04d}.parquet"
            sub = "drain_src" if i < drain_n else "stage"
            gen.write(arr.slice(at, k), os.path.join(d, sub, name))
            names.append(name)
            at += k
        t0 = time.perf_counter()
        refdf = spark.read.schema("doc_id bigint, text string").parquet(
            os.path.join(d, "reference"))
        with ctx.span("dedup.with_minhash_bands", build=True):
            bands = dedup.with_minhash_bands(refdf, "doc_id", "text")
        with ctx.span("sink.write_dataset"):
            sink.write_dataset(bands, os.path.join(d, "index"))
        index_times.append(time.perf_counter() - t0)
        return d, arr, names, spark.read.parquet(os.path.join(d, "index"))

    d, arrivals, names, index = ctx.setup(make)
    os.makedirs(os.path.join(d, "paced_src"))

    def start(phase, src, **opts):
        reader = spark.readStream.schema(SCHEMA)
        for k, v in opts.items():
            reader = reader.option(k, v)
        with ctx.span("serve.near_dup_stream", build=True):
            clean = serve.near_dup_stream(reader.parquet(os.path.join(d, src)), index)
        writer = (clean.writeStream.format("parquet")
                  .option("path", os.path.join(d, f"{phase}_sink"))
                  .option("checkpointLocation", os.path.join(d, f"{phase}_ck")))
        return writer

    with ctx.window():
        with ctx.span("serve.drain"):
            t_start = time.time()
            q = start("drain", "drain_src", maxFilesPerTrigger=1).trigger(availableNow=True).start()
            ctx.window_groups.append(str(q.runId))
            q.awaitTermination(120)
            drain_progress = q.recentProgress
            q.stop()
        with ctx.span("serve.paced"):
            q = start("paced", "paced_src").start()
            ctx.window_groups.append(str(q.runId))
            wait_for(lambda: q.status["message"] == "Waiting for data to arrive", 60,
                     "paced query never became idle")
            # one untimed file first, so the schedule does not start on
            # the query's first micro-batch
            warm = names[drain_n]
            os.rename(os.path.join(d, "stage", warm), os.path.join(d, "paced_src", warm))
            wait_for(lambda: any(x["numInputRows"] for x in q.recentProgress), 60,
                     "paced warm-up file never committed")
            due, lag = {}, []
            t0 = time.time() + 0.05
            for i, name in enumerate(names[drain_n + 1:]):
                due[name] = t0 + i / p["paced_files_per_s"]
                pause = due[name] - time.time()
                if pause > 0:
                    time.sleep(pause)
                os.rename(os.path.join(d, "stage", name), os.path.join(d, "paced_src", name))
                lag.append(time.time() - due[name])
            want_rows = paced_n * p["paced_docs_per_file"]
            try:
                wait_for(lambda: sum(x["numInputRows"] for x in q.recentProgress) >= want_rows,
                         60, "paced files not all committed")
            finally:
                paced_progress = q.recentProgress
                q.stop()

    drain_commits = stats.commit_times(drain_progress)
    drain_log = stats.read_source_log(os.path.join(d, "drain_ck"))
    paced_commits = stats.commit_times(paced_progress)
    paced_log = stats.read_source_log(os.path.join(d, "paced_ck"))
    ctx.window_ops = len(drain_commits) + len(paced_commits)

    first, last = min(drain_commits), max(drain_commits)
    warm_docs = sum(p["drain_docs_per_file"] * len(drain_log[b]) for b in drain_log if b != first)
    ctx.e2e["cold_pass_s"] = (drain_commits[first] - t_start, 1)
    ctx.e2e["items_per_s"] = (warm_docs / (drain_commits[last] - drain_commits[first]),
                              len(drain_commits) - 1)
    lat = stats.file_latencies(due, paced_log, paced_commits)
    ctx.raw["paced"] = {
        "due": due, "latency": lat,
        "progress": [{k: x[k] for k in ("batchId", "timestamp", "numInputRows", "durationMs")}
                     for x in paced_progress],
    }
    ctx.e2e["latency_p50_s"] = stats.median(lat.values())
    ctx.e2e["latency_p90_s"] = stats.percentile(lat.values(), 90)

    check(ctx, d, index, arrivals, names, drain_n,
          {n for log in (drain_log, paced_log) for b in log.values() for n in b})

    progress = [x for x in drain_progress + paced_progress if x["numInputRows"]]
    for name, key in PROGRESS_KEYS.items():
        vals = [x["durationMs"].get(key, 0) for x in progress]
        ctx.layer(f"serve.{name}_p50", "ms", *stats.median(vals))
    try:
        ctx.layer("serve.trigger_ms_p90", "ms",
                  *stats.percentile([x["durationMs"]["triggerExecution"] for x in progress], 90))
    except stats.TooFewSamples as e:
        ctx.absent("serve.trigger_ms_p90", "ms", str(e))
    ctx.layer("serve.rows_per_batch_p50", "count",
              *stats.median(x["numInputRows"] for x in progress))
    # backlog: files due but not yet committed, seen at each paced commit
    backlog = [
        sum(t <= c for t in due.values())
        - sum(n in due for b, cb in paced_commits.items() if cb <= c for n in paced_log.get(b, []))
        for c in paced_commits.values()
    ]
    ctx.layer("serve.backlog_files_max", "count", max(backlog, default=0), len(backlog))
    ctx.layer("loadgen.lag_max_ms", "ms", max(lag) * 1000.0, len(lag))
    ctx.layer("dedup.index_build_s", "s", index_times[0])


def check(ctx, d, index, arrivals, names, drain_n, committed):
    """Each file is one operation: it must have been committed, and its
    surviving rows must equal the batch screen of the same file."""
    from fuel_spark.streaming import serve

    files = [os.path.join(d, "drain_src" if i < drain_n else "paced_src", n)
             for i, n in enumerate(names)]
    static = ctx.spark.read.schema(SCHEMA).parquet(*files)
    with ctx.span("check.batch_screen"):
        expect = {r[0] for r in serve.near_dup_stream(static, index).select("doc_id").collect()}
    got = set()
    for phase in ("drain", "paced"):
        got |= set(pq.read_table(os.path.join(d, f"{phase}_sink"),
                                 columns=["doc_id"]).column("doc_id").to_pylist())
    ids = arrivals.column("doc_id").to_pylist()
    at = 0
    for i, name in enumerate(names):
        k = ctx.params["drain_docs_per_file" if i < drain_n else "paced_docs_per_file"]
        mine = set(ids[at:at + k])
        at += k
        ok = name in committed and (mine & got) == (mine & expect)
        ctx.op(ok, f"{name}: not committed" if name not in committed
               else f"{name}: streamed rows differ from the batch screen")
    ctx.layer("serve.dropped_frac", "ratio", 1 - len(got) / len(ids), len(ids))
