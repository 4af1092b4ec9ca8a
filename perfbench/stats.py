"""Percentiles, sample-count rules and output checks for the benchmark."""

import math

from gen import sum_digests

LADDER = (50.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n))


def highest_supported(n, ladder=LADDER, min_beyond=10):
    """The highest percentile of `ladder` that keeps at least `min_beyond`
    samples above it, or None when even the lowest does not."""
    best = None
    for p in ladder:
        if beyond(n, p) >= min_beyond:
            best = p
    return best


def median(values):
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def check_warehouse(found, expected_rows, expected_digest):
    """Problems with one warehouse: `found` holds the rows, digest and
    malformed-audit count the harness read back. A dropped row lowers the
    count and changes the digest; a duplicated one raises the count and
    adds its hash again."""
    problems = []
    if int(found["rows"]) != expected_rows:
        problems.append(f"rows {found['rows']} != expected {expected_rows}")
    if found["digest"] != expected_digest:
        problems.append(f"digest {found['digest']} != expected {expected_digest}")
    if int(found.get("bad_audit", 0)) != 0:
        problems.append(f"{found['bad_audit']} rows with a null job_id or malformed last_updated")
    return problems


def expected_for_polls(manifest, files):
    by_file = {p["file"]: p for p in manifest["polls"]}
    rows = sum(by_file[f]["rows"] for f in files)
    return rows, sum_digests(by_file[f]["digest"] for f in files)


def check_query_rows(seen, expected):
    """Every query that ran must have returned its recorded row count on
    every call."""
    problems = []
    for q, counts in seen.items():
        want = expected.get(q)
        if want is None:
            problems.append(f"{q}: no recorded row count")
        elif any(c != want for c in counts):
            problems.append(f"{q}: rows {counts} != recorded {want}")
    return problems
