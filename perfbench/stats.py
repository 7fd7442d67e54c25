"""Summary statistics and output fingerprints for the benchmark.

Timings are reported as a median plus the sample count. A higher
percentile is reported only when at least ten samples lie above it, so a
p90 needs 100 samples.
"""
import math
import os
import statistics
import sys

MIN_BEYOND = 10
# tools/check.py, the project's oracle gate, hashes catalog outputs
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))


def percentile(samples, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(samples, p):
    """How many samples lie strictly above the p-th percentile."""
    cut = percentile(samples, p)
    return sum(1 for x in samples if x > cut)


def reportable(samples, p):
    """A percentile above the median is reported only with ten samples
    beyond it."""
    return len(samples) > 0 and (p <= 50 or beyond(samples, p) >= MIN_BEYOND)


def summary(samples, percentiles=(90, 99)):
    """{"p50": median, "n": count, "pNN": ... where reportable}."""
    out = {"p50": statistics.median(samples), "n": len(samples)}
    for p in percentiles:
        if reportable(samples, p):
            out[f"p{p}"] = percentile(samples, p)
    return out


def fingerprint(df, rows_only=False):
    """(row count, hash) of a result frame, hashed by the project's oracle
    gate (`canon` in tools/check.py): column and row order do not matter.
    `rows_only` results compare by count."""
    import check
    return len(df), (None if rows_only else check.canon(df))
