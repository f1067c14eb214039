"""``feed``: a training loop pulling shuffled minibatches (closed loop).

One consumer iterates ``DataStream`` epochs over an MNIST-shaped table
as fast as batches come.  Epoch 0 is the cold pass; a second stream
with the same seed then replays epoch 0 untimed, as warm-up, and its
order must repeat; a fixed number of timed epochs of the first stream
follows (:meth:`Ctx.timed_ops`).  Every epoch must deliver a permutation of the
input with each row intact.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time

import numpy as np

import gen
import stats

SCHEMA = "idx bigint, features array<smallint>, targets int"
ITEMS = "examples_per_s"


def run(ctx):
    from fuel_spark import schemes
    from fuel_spark.streams import DataStream

    p = ctx.params

    def make(d):
        table = gen.examples(ctx.seed, p)
        path = gen.write(table, os.path.join(d, "examples", "part-0.parquet"))
        return table, ctx.spark.read.schema(SCHEMA).parquet(os.path.dirname(path))

    table, df = ctx.setup(make)
    n = table.num_rows
    feats = table.column("features").combine_chunks().values.to_numpy().reshape(n, p["width"])
    targets = table.column("targets").to_numpy()
    ctx.tracer.wrap(schemes, "shuffled_batches", "schemes.shuffled_batches", build=True)

    def stream():
        with ctx.span("streams.DataStream"):
            return DataStream(df, "idx", p["batch_size"], shuffled=True, seed=ctx.seed)

    def epoch(ds):
        """One epoch: wall time, per-batch waits, Python CPU, order digest."""
        waits, order, intact = [], [], True
        with ctx.span("streams.epoch"):
            t0, c0 = time.perf_counter(), time.process_time()
            it = ds.get_epoch_iterator()
            while True:
                w0 = time.perf_counter()
                try:
                    batch = next(it)
                except StopIteration:
                    break
                waits.append(time.perf_counter() - w0)
                idx = batch["idx"]
                order.append(idx)
                intact = intact and np.array_equal(batch["features"], feats[idx]) \
                    and np.array_equal(batch["targets"], targets[idx])
            wall, cpu = time.perf_counter() - t0, time.process_time() - c0
        ids = np.concatenate(order) if order else np.array([], dtype=np.int64)
        ok = intact and len(ids) == n and np.array_equal(np.sort(ids), np.arange(n))
        return {"wall": wall, "waits": waits, "cpu": cpu, "ok": ok,
                "digest": hashlib.sha256(ids.tobytes()).hexdigest()}

    main = stream()
    ok, cold = ctx.attempt("cold epoch", epoch, main)
    if ok:
        ctx.op(cold["ok"], "cold epoch: not a permutation of the input")
        ctx.e2e["cold_pass_s"] = (cold["wall"], 1)
    ok, replay = ctx.attempt("warm-up epoch", epoch, stream())
    if ok:
        same = cold is not None and replay["digest"] == cold["digest"]
        ctx.op(replay["ok"] and same, "warm-up epoch: order differs from epoch 0 of the same seed")

    with ctx.window():
        timed = ctx.repeat("timed epoch", lambda _: epoch(main), ctx.timed_ops())
    for e in timed:
        ctx.op(e["ok"], "timed epoch: not a permutation of the input")
    ctx.window_ops = len(timed)

    ctx.raw["waits"] = [e["waits"] for e in timed]
    rates = [n / e["wall"] for e in timed]
    waits = [w for e in timed for w in e["waits"]]
    ctx.e2e["items_per_s"] = (statistics.median(rates), len(rates))

    ctx.layer("streams.first_batch_s", "s",
              statistics.median(e["waits"][0] for e in timed), len(timed))
    ctx.layer("streams.py_cpu_s", "s", statistics.median(e["cpu"] for e in timed), len(timed))
    ms = [w * 1000.0 for w in waits]
    ctx.layer("streams.batch_wait_p50_ms", "ms", *stats.median(ms))
    try:
        ctx.layer("streams.batch_wait_p99_ms", "ms", *stats.percentile(ms, 99))
    except stats.TooFewSamples as e:
        ctx.absent("streams.batch_wait_p99_ms", "ms", str(e))
