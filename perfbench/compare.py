"""Compare benchmark records: deterministic counters apart from timings.

    python3 perfbench/compare.py --a A1.json [A2.json ...] --b B1.json [B2.json ...]

Records are the files run.py writes to .bench_build/records/. Each side may
hold several runs of one workload and trace mode. Counters (rows, bytes,
tasks, bytes/point) are reported as equal or changed; a counter that differs
between runs of one side is flagged as not deterministic. Timings are
reported as the median over a side's runs with that side's spread, the
distance between quartiles as a share of the median: across runs when a side
has two or more, else across the samples within its one run.
"""
import argparse
import sys

import stats


def figures(rec):
    """name -> (value, within-run samples) for every figure of a record."""
    out = {}
    for name, v in rec["metrics"].items():
        out[name] = (v, [])
    for name, v in rec.get("named", {}).items():
        out.setdefault(name, (v[0], []))
    for name, v in rec.get("layers", {}).items():
        out.setdefault(name, (v, []))
    main = rec["legs"]["4"]
    for name, v in main["values"].items():
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            out.setdefault(name, (v, []))
    for name, xs in main["samples"].items():
        if name in out:
            out[name] = (out[name][0], xs)
    return out


def side(recs):
    kinds = {(r["workload"], r["trace"]) for r in recs}
    if len(kinds) != 1:
        raise ValueError(f"records mix workloads or trace modes: {sorted(kinds)}")
    per = [figures(r) for r in recs]
    names = set().union(*per)
    out = {}
    for n in names:
        vals = [p[n][0] for p in per if n in p]
        within = per[0][n][1] if n in per[0] else []
        sp = stats.spread(vals) if len(vals) >= 2 else stats.spread(within)
        out[n] = (stats.median(vals), sp, vals)
    return kinds.pop(), out


def report(a, b):
    lines = []
    counters, timings = [], []
    for n in sorted(set(a) & set(b)):
        (ma, sa, va), (mb, sb, vb) = a[n], b[n]
        if stats.is_count(n):
            steady = len(set(va)) == 1 and len(set(vb)) == 1
            verdict = "equal" if ma == mb else f"changed {mb - ma:+.6g}"
            counters.append(f"  {n}: {ma:.6g} -> {mb:.6g} {verdict}"
                            + ("" if steady else "  (not deterministic)"))
        else:
            change = f"{(mb - ma) / ma:+.1%}" if ma else "n/a"
            timings.append(f"  {n}: {ma:.6g} (spread {sa:.3f}) -> {mb:.6g} "
                           f"(spread {sb:.3f}) {change}")
    lines.append("counters:")
    lines += counters or ["  (none)"]
    lines.append("timings:")
    lines += timings or ["  (none)"]
    only = sorted(set(a) ^ set(b))
    if only:
        lines.append("only on one side: " + ", ".join(only))
    return "\n".join(lines)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--a", nargs="+", required=True)
    ap.add_argument("--b", nargs="+", required=True)
    args = ap.parse_args(argv)
    try:
        ka, a = side([stats.load_record(p) for p in args.a])
        kb, b = side([stats.load_record(p) for p in args.b])
    except (OSError, ValueError) as e:
        print(f"compare: {e}", file=sys.stderr)
        return 2
    if ka != kb:
        print(f"compare: sides differ: {ka} vs {kb}", file=sys.stderr)
        return 2
    print(f"workload {ka[0]}, trace {ka[1]}: {len(args.a)} run(s) vs {len(args.b)} run(s)")
    print(report(a, b))
    return 0


if __name__ == "__main__":
    sys.exit(main())
