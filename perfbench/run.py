"""graft benchmark: ingest and headline workloads at local[4].

    python3 perfbench/run.py --workload ingest|headline --seed N \
        --seconds S --trace 0|1

Run from the repository root. It compiles graft and the harness (see
build.py), runs one harness JVM, checks its outputs and prints, as the last
line of standard output, one JSON object: with --trace 0 the end-to-end
metrics, with --trace 1 the per-layer metrics. The line before it is the
full report: every timing with its median, tail percentile and sample
count, the counters, and a provenance block. The raw records stay in
.bench_work/, with one summary line per run in .bench_work/history.jsonl:
a traced run reports its tracing overhead against the untraced runs of the
same workload and the same build inputs found there, or none when there
are none.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import analyze  # noqa: E402
import build  # noqa: E402

WORKLOADS = ("ingest", "headline")
DRIVER_MEMORY = "4g"
JVM_TIMEOUT_S = 170


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks():
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks[:8])


def git(*args):
    try:
        r = subprocess.run(["git", "-C", build.ROOT, *args], capture_output=True, text=True,
                           timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def run_jvm(args, classes, work, out):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if os.path.exists(out):
        os.remove(out)
    opens = [x for p in build.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{DRIVER_MEMORY}", f"-Djava.io.tmpdir={work}/tmp"] + opens +
           ["-cp", build.classpath(classes), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        # a timeout or a signal to this process must not leave the JVM behind
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


# the phases of an ingest cycle: call-name prefix -> reported timing
PHASES = {"ingest.append": "append_s", "ingest.read.": "read_s",
          "ingest.takedown": "takedown_s", "ingest.compact": "maintenance_s",
          "ingest.expire": "maintenance_s"}


def e2e_report(records):
    """Every timing of a run: the unit operation's wall and CPU time, each
    call, and per unit operation each ingest phase."""
    ops = [r for r in records if r["type"] == "op"]
    rep = {"op_s": analyze.summary([r["wall_s"] for r in ops]),
           "op_cpu_s": analyze.summary([r["cpu_s"] for r in ops]),
           "calls": {k: analyze.summary(v) for k, v in analyze.call_walls(records).items()}}
    for phase, walls in analyze.phase_walls(records, PHASES).items():
        rep[phase] = analyze.summary(walls)
    return rep


def hygiene(counters, base_on_disk):
    """Files on disk against files the manifests claim, and files added on
    disk by the cycle, per table."""
    ratios, growth = {}, {}
    for t in analyze.STORE_TABLES:
        disk = counters.get(f"store.{t}.files_on_disk", [])
        claimed = counters.get(f"store.{t}.files_claimed", [])
        r = [d / c for d, c in zip(disk, claimed) if c]
        if r:
            ratios[f"store.{t}.files_ratio"] = analyze.median(r)
        if disk and t in base_on_disk:
            growth[t] = analyze.median(disk) - base_on_disk[t]
    return ratios, growth


def layer_metrics(records):
    """Per-layer metrics of a traced run, and the names of those the run
    never reached (they read 0)."""
    table, extra = analyze.layer_table(records)
    counters = analyze.counters_by_op(records)
    for name in analyze.COUNTERS + [f"headline.{e}.{p}" for e in analyze.HEADLINE
                                    for p in ("plan_s", "exec_s")]:
        if name in counters:
            table[name] = analyze.median(counters[name])
    table.update(hygiene(counters, {})[0])
    not_reached = [n for n, _ in analyze.per_layer_names() if n not in table]
    not_reached += [f"{layer}.*" for layer in analyze.LAYERS
                    if not table.get(f"{layer}.jobs")]
    return table, extra, not_reached


def steal_share(start, end):
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total > 0 else None


def history(path):
    """The summary rows of earlier runs in this checkout."""
    try:
        with open(path) as f:
            return [json.loads(line) for line in f]
    except (OSError, ValueError):
        return []


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    load_start = loadavg()
    ticks_start = cpu_ticks()
    try:
        classes, digest = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.ROOT, ".bench_work", args.workload)
    out = os.path.join(build.ROOT, ".bench_work", f"{args.workload}.jsonl")
    t = time.time()
    try:
        code = run_jvm(args, classes, work, out)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] harness exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 1
    wall = time.time() - t
    try:
        with open(out) as f:
            records = [json.loads(line) for line in f]
    except (OSError, ValueError) as e:
        print(f"[perfbench] no harness records ({e}); see {work}/jvm.log", file=sys.stderr)
        return 1
    end = next((r for r in records if r["type"] == "end"), None)
    if end is None:
        print(f"[perfbench] harness exited {code} without a result; see {work}/jvm.log",
              file=sys.stderr)
        return 1

    start = next((r for r in records if r["type"] == "start"), {})
    correct = code == 0 and end["error"] is None and end["failed"] == 0
    attempted = max(int(end["attempted"]), 1)
    # a checkout that is not itself a git work tree has no commit of its own
    inside = git("rev-parse", "--show-toplevel") == os.path.realpath(build.ROOT)
    commit = git("rev-parse", "HEAD") if inside else None
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "correct": correct, "error": end["error"],
        "failed_ratio": end["failed"] / attempted,
        "setup_s": start.get("to_first_op_s"),
        "peak_rss_mb": end["peak_rss_mb"], "process_s": wall,
        "provenance": {
            "commit": commit,
            "dirty": (git("status", "--porcelain") or "") != "" if commit else None,
            "build_digest": digest[:16],
            "nproc": len(os.sched_getaffinity(0)),
            "loadavg_start": load_start, "loadavg_end": loadavg(),
            # share of CPU time the hypervisor gave to other guests
            "cpu_steal_share": steal_share(ticks_start, cpu_ticks()),
            "jvm": end["jvm"], "spark": end["spark"],
            "driver_memory": DRIVER_MEMORY, "max_heap_mb": end["max_heap_mb"],
            "seed": args.seed, "inputs": end["sizes"],
        },
    }
    hist = os.path.join(build.ROOT, ".bench_work", "history.jsonl")
    report["timings"] = e2e_report(records)
    report["setup_steps"] = {r["name"]: r["wall_s"] for r in records if r["type"] == "setup"}
    base = end["sizes"].get("base_build", {}).get("files_on_disk", {})
    report["store_files_added_per_cycle"] = hygiene(analyze.counters_by_op(records), base)[1]
    op_s = report["timings"]["op_s"]["median"]
    if args.trace == 0:
        metrics = {
            "setup_s": {"value": report["setup_s"], "unit": "s"},
            "op_s": {"value": op_s, "unit": "s"},
        }
    else:
        table, extra, not_reached = layer_metrics(records)
        extra["overhead"] = analyze.overhead(history(hist), args.workload, digest, args.seed,
                                             op_s)
        extra["not_reached"] = not_reached
        report["layers"] = table
        report["trace"] = extra
        report["provenance"]["trace_overhead_pct"] = extra["overhead"]["pct"]
        # every per-layer metric is printed; one the workload never reaches
        # reads 0 and is named in the report's trace.not_reached
        metrics = {name: {"value": float(table.get(name, 0.0)), "unit": unit}
                   for name, unit in analyze.per_layer_names()}
    with open(hist, "a") as f:
        f.write(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                            "correct": correct, "op_s": op_s,
                            "build_digest": digest}) + "\n")
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": int(end["failed"]), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
