"""Summary statistics and the streaming latency join.

Pure Python, no engine: the self-tests import this module on its own.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import math
import os
import statistics


class TooFewSamples(ValueError):
    """A percentile was asked for with fewer than ``min_beyond`` samples
    above it, so the value would rest on a handful of outliers."""


def percentile(values, q: float, min_beyond: int = 10) -> tuple[float, int]:
    """Nearest-rank ``q``-th percentile of ``values`` and the sample count.

    Raises :class:`TooFewSamples` unless at least ``min_beyond`` samples
    rank above the returned one (p90 needs 100 samples, p99 1000).
    """
    xs = sorted(values)
    n = len(xs)
    rank = max(1, math.ceil(q / 100.0 * n))
    if n - rank < min_beyond:
        raise TooFewSamples(
            f"p{q:g} needs {min_beyond} samples beyond it; {n} samples leave {max(n - rank, 0)}"
        )
    return xs[rank - 1], n


def median(values) -> tuple[float, int]:
    """Median of ``values`` and the sample count (never refused)."""
    xs = list(values)
    return statistics.median(xs), len(xs)


# --- screen latency join -------------------------------------------------
#
# A file's latency runs from when it was due in the source directory to
# the commit of the micro-batch that read it.  Three records meet here:
# the load generator's schedule (file name -> due time), the query
# checkpoint's source log (batch id -> file names) and the query's
# progress reports (batch id -> start timestamp + triggerExecution).


def read_source_log(checkpoint: str) -> dict[int, list[str]]:
    """Batch id -> base names of the files that batch read, from the file
    source's metadata log (plain and ``.compact`` entries alike)."""
    batches: dict[int, set[str]] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue  # version header
                entry = json.loads(line)
                name = os.path.basename(entry["path"])
                batches.setdefault(int(entry["batchId"]), set()).add(name)
    return {b: sorted(names) for b, names in batches.items()}


def commit_times(progress: list[dict]) -> dict[int, float]:
    """Batch id -> commit time (epoch seconds) of every batch that read data."""
    out = {}
    for p in progress:
        if not p.get("numInputRows"):
            continue
        start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        start = start.replace(tzinfo=dt.timezone.utc).timestamp()
        out[int(p["batchId"])] = start + p["durationMs"]["triggerExecution"] / 1000.0
    return out


def file_latencies(due: dict[str, float], source_log: dict[int, list[str]],
                   commits: dict[int, float]) -> dict[str, float]:
    """File -> seconds from its due time to the commit of its batch.

    Files that no committed batch read are left out; the caller counts
    them as failed.
    """
    out = {}
    for batch, names in source_log.items():
        if batch not in commits:
            continue
        for name in names:
            if name in due:
                out[name] = commits[batch] - due[name]
    return out
