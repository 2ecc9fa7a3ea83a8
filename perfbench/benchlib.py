"""Arithmetic of the benchmark: percentiles, job-interval unions, result
digests, host readings. Kept free of I/O so
`tests/test_benchlib.py` can pin it on fixed inputs."""
import hashlib
import math
import os
import re
import sys

import pandas as pd

# the oracle compare's canonical form, from the correctness gate itself
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from check import canon  # noqa: E402


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it. Returns (value, sample count); (nan, 0) when
    there are no samples."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return float("nan"), 0
    rank = max(1, math.ceil(p / 100.0 * n))
    return xs[rank - 1], n


def median(values):
    """Middle sample, or the mean of the two middle samples."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return float("nan")
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of (start, end) intervals, each
    clipped to [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(lo, hi, intervals):
    """Time in [lo, hi] during which no job ran: the window minus the union
    of the job intervals inside it."""
    return (hi - lo) - union_length(intervals, lo, hi)


def digest(df: pd.DataFrame) -> str:
    """SHA-256 over the column names and string cells of `tools/check.py`'s
    canonical form: two frames digest equal exactly when the oracle compare
    calls them equal."""
    c = canon(df).astype(str)
    h = hashlib.sha256()
    h.update(("\x1f".join(c.columns) + "\n").encode())
    for row in c.itertuples(index=False):
        h.update(("\x1f".join(row) + "\n").encode())
    return h.hexdigest()


def shingles(text: str) -> set:
    """Distinct 5-character shingles of whitespace-normalised lower-case
    text (the whole text when shorter)."""
    norm = re.sub(r"[ \t\n\r\f\v]+", " ", text).strip().lower()
    last = max(len(norm) - 5, 0)
    return {norm[i:i + 5] for i in range(last + 1)}


def components(docs):
    """Near-duplicate clusters: documents are linked when their shingle
    sets are within 2x in size and have Jaccard similarity >= 0.5; each
    document's cluster id is the smallest doc id in its connected
    component. `docs` is [(doc_id, text)]; returns {doc_id: cluster_id}."""
    sets = [(d, shingles(t)) for d, t in docs]
    parent = {d: d for d, _ in sets}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, (a, sa) in enumerate(sets):
        for b, sb in sets[i + 1:]:
            la, lb = len(sa), len(sb)
            if min(la, lb) < 0.5 * max(la, lb):
                continue
            inter = len(sa & sb)
            if inter / (la + lb - inter) >= 0.5:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d, _ in sets}


def read_steal_ticks(stat_text: str) -> int:
    """Steal ticks (all CPUs) from the aggregate line of /proc/stat."""
    for line in stat_text.splitlines():
        if line.startswith("cpu "):
            f = line.split()
            return int(f[8]) if len(f) > 8 else 0
    return 0


def host_reading():
    """(steal seconds since boot over all CPUs, 1-minute load average)."""
    try:
        with open("/proc/stat") as f:
            steal = read_steal_ticks(f.read()) / os.sysconf("SC_CLK_TCK")
    except OSError:
        steal = 0.0
    try:
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
    except OSError:
        load1 = 0.0
    return steal, load1
