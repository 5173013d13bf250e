"""Statistics and record handling shared by run.py and compare.py."""
import json
import math
import statistics

RESULT_PREFIX = "PERFBENCH_RESULT "

# name suffixes of deterministic counts: equal on every run of one seed
COUNT_SUFFIXES = ("bytes", "tasks", "jobs", "rows_out", "lines", "points",
                  "bytes_per_pt", "bytes_per_point", "files_written",
                  "rewritten", "turns", "state_rows", "by_watermark")


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def spread(xs):
    """Distance between the first and third quartile as a share of the
    median (statistics.quantiles, n=4); 0 for fewer than two samples."""
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    m = median(xs)
    return (q3 - q1) / m if m else 0.0


def tail(xs, beyond=10):
    """Highest whole percentile that still has at least `beyond` samples
    above it (nearest-rank). Returns (percentile, value, sample count), or
    None when there are too few samples for any percentile from 50 up."""
    s = sorted(xs)
    n = len(s)
    for p in range(99, 49, -1):
        k = max(1, math.ceil(p / 100 * n))
        if n - k >= beyond:
            return p, s[k - 1], n
    return None


def digests_match(a, b, rel=1e-9):
    """Two {relation: {"rows", "hash", "sums"}} digests (Common.Digest in the
    harness) describe the same content: equal rows and hash, floating-point
    column sums equal to `rel` relative."""
    if a is None or b is None or a.keys() != b.keys():
        return False
    for k in a:
        x, y = a[k], b[k]
        if x["rows"] != y["rows"] or x["hash"] != y["hash"] or x["sums"].keys() != y["sums"].keys():
            return False
        for c, v in x["sums"].items():
            w = y["sums"][c]
            if v != w and abs(v - w) > rel * max(abs(v), abs(w)):
                return False
    return True


def is_count(name):
    return name.endswith(COUNT_SUFFIXES)


def parse_result(stdout):
    """The harness JVM's result object, from its standard output."""
    for line in reversed(stdout.splitlines()):
        if line.startswith(RESULT_PREFIX):
            return json.loads(line[len(RESULT_PREFIX):])
    raise ValueError("no result line in harness output")


def final_line(correct, attempted, failed, metrics):
    """The benchmark's last output line; `metrics` maps name -> (value, unit)."""
    if attempted < 1:
        raise ValueError("a run attempts at least one operation")
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def parse_final_line(line):
    """Validate and return a final result line."""
    obj = json.loads(line)
    if set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected keys {sorted(obj)}")
    if not isinstance(obj["correct"], bool):
        raise ValueError("correct must be a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(obj[k], int) or isinstance(obj[k], bool) or obj[k] < 0:
            raise ValueError(f"{k} must be a whole number")
    if obj["attempted"] < 1:
        raise ValueError("attempted must be at least 1")
    for name, m in obj["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError(f"bad metric {name}")
    return obj


def load_record(path):
    with open(path) as fh:
        rec = json.load(fh)
    for key in ("workload", "seed", "trace", "metrics", "legs"):
        if key not in rec:
            raise ValueError(f"{path}: not a benchmark record (missing {key})")
    return rec
