"""sitsspark benchmark: one command per workload.

    python3 perfbench/run.py --workload build|serve|maintain|driver \
        --seed N --seconds S --trace 0|1

Builds the engine and the harness from source (perfbench/build.py), runs the
workload in a harness JVM at local[4] (`build` with --trace 1 adds a local[1]
leg in its own JVM), checks the outputs, prints the workload's named metrics
and the per-layer table, writes the full record to .bench_build/records/, and
prints one JSON result line last. --trace 0 reports the end-to-end metrics of
BENCHMARK.json, --trace 1 its per-layer metrics from a traced run.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("build", "serve", "maintain", "driver")
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
RUN_LIMIT_S = 170  # the harness part of one run; the build is not counted


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_leg(classpath, args, cores, work, deadline):
    """One harness JVM; returns its parsed result object."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xmx3g", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=4", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Duser.timezone=UTC",
              "-Dspark.ui.enabled=false", "-cp", os.pathsep.join(classpath),
              "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds / (2 if args.workload == "build" and args.trace else 1)),
              "--trace", str(args.trace), "--cores", str(cores), "--work", work])
    log = open(os.path.join(work, "harness.log"), "w")
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{args.workload} local[{cores}] did not finish in time")
    finally:
        log.close()
    if proc.returncode != 0:
        kept = os.path.join(build.OUT, "logs", f"{args.workload}-{args.seed}-local{cores}.log")
        os.makedirs(os.path.dirname(kept), exist_ok=True)
        shutil.copy(log.name, kept)
        fail(f"harness exited with {proc.returncode}; see {os.path.relpath(kept, ROOT)}")
    return stats.parse_result(out)


def m(leg, name):
    return stats.median(leg["samples"][name])


def named_metrics(w, legs):
    """The workload's own metrics, by name: name -> (value, unit[, note])."""
    main = legs[4]
    s = main["samples"]
    out = {"setup_s": (m(main, "setup_s"), "s"),
           "failed_frac": (sum(l["failed"] for l in legs.values()) /
                           sum(l["attempted"] for l in legs.values()), "ratio")}
    if w == "build":
        out["build_turns_per_s"] = (m(main, "turns_per_s"), "turns/s")
        if 1 in legs:
            one = m(legs[1], "turns_per_s")
            out["build_1c_turns_per_s"] = (one, "turns/s")
            out["efficiency_1_to_4"] = (out["build_turns_per_s"][0] / (4 * one), "ratio")
    elif w == "serve":
        for t in ("lookup", "quantiles", "range", "render"):
            out[f"serve_{t}_ms"] = (m(main, f"{t}_ms"), "ms")
        mix = [x for t in ("lookup", "quantiles", "range", "render") for x in s[f"{t}_ms"]]
        tl = stats.tail(mix)
        if tl:
            out["serve_tail_ms"] = (tl[1], "ms", f"p{tl[0]} of {tl[2]} reads")
    elif w == "maintain":
        out["patch_s"] = (m(main, "patch_s"), "s")
        out["erase_s"] = (m(main, "erase_s"), "s")
        out["retention_s"] = (m(main, "retention_s"), "s")
        out["stream_batch_ms"] = (m(main, "stream_batch_ms"), "ms")
    elif w == "driver":
        out["driver_dedup_s"] = (m(main, "driver_dedup_s"), "s")
        out["driver_other_s"] = (m(main, "driver_other_s"), "s")
    return out


def layer_metrics(w, legs):
    """Per-layer figures of a traced run: name -> value (medians of samples)."""
    main = legs[4]
    out = {}
    for leg_cores, leg in sorted(legs.items()):
        suffix = "" if leg_cores == 4 else "@local1"
        for k, xs in leg["samples"].items():
            if xs:
                out[k + suffix] = stats.median(xs)
        for k, v in leg["values"].items():
            if isinstance(v, (int, float)):
                out[k + suffix] = v
    base = "walk_s" if w == "build" else "round_s"
    traced = "traced_walk_s" if w == "build" else "traced_round_s"
    out["trace.overhead_ratio"] = m(main, traced) / m(main, base)
    out["trace.span_sum_ratio"] = m(main, "trace.span_sum_s") / m(main, "round_s")
    return out


def checks_across_legs(w, legs):
    """Cross-leg checks: (attempted, failed, errors)."""
    if w == "build" and 1 in legs:
        same = stats.digests_match(legs[1]["values"].get("digest"), legs[4]["values"].get("digest"))
        return 1, 0 if same else 1, [] if same else ["digest differs between local[1] and local[4]"]
    return 0, 0, []


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        classpath = build.build()
    except (OSError, ValueError, build.BuildError) as e:
        fail(str(e))

    work = os.path.join(build.OUT, "work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    deadline = time.time() + RUN_LIMIT_S
    try:
        legs = {}
        for cores in ([4, 1] if args.workload == "build" and args.trace else [4]):
            legs[cores] = run_leg(classpath, args, cores, os.path.join(work, f"local{cores}"), deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    x_att, x_fail, x_err = checks_across_legs(args.workload, legs)
    attempted = sum(l["attempted"] for l in legs.values()) + x_att
    failed = sum(l["failed"] for l in legs.values()) + x_fail
    errors = [e for l in legs.values() for e in l["errors"]] + x_err

    named = named_metrics(args.workload, legs)
    layers = layer_metrics(args.workload, legs) if args.trace else {}
    want = spec["per_layer"] if args.trace else spec["end_to_end"]
    table = layers if args.trace else {
        "setup_s": m(legs[4], "setup_s"),
        "round_s": m(legs[4], "round_s"),
    }
    # serve and driver are not in BENCHMARK.json: they print what they measure
    missing = [x["name"] for x in want if x["name"] not in table]
    if missing and args.workload in {w["name"] for w in spec["workloads"]}:
        fail(f"metrics not measured: {missing}")
    metrics = {x["name"]: (table[x["name"]], x["unit"]) for x in want if x["name"] in table}

    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "cpus": os.cpu_count(), "time": time.time(),
              "attempted": attempted, "failed": failed, "errors": errors,
              "metrics": {k: v for k, (v, _) in metrics.items()},
              "named": {k: list(v) for k, v in named.items()}, "layers": layers,
              "legs": legs}
    rec_dir = os.path.join(build.OUT, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(rec_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}-{os.getpid()}.json")
    with open(rec_path, "w") as fh:
        json.dump(record, fh)

    for e in errors[:20]:
        print(f"FAILED {e}")
    for k, v in named.items():
        print(f"{k} {v[0]:.6g} {v[1]}" + (f" ({v[2]})" if len(v) > 2 else ""))
    for k in sorted(layers):
        print(f"layer {k} {layers[k]:.6g}")
    print(f"record {os.path.relpath(rec_path, ROOT)}")
    print(stats.final_line(failed == 0, attempted, failed, metrics))


if __name__ == "__main__":
    main()
