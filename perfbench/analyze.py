"""Pure reductions of the harness's JSON-lines dump: statistics, interval
unions, call-site attribution of Spark jobs to graft modules, and the
per-layer sums. No I/O beyond parsing the records handed in."""
import math
import statistics

# Layers of the traced run: graft's modules, plus the driver remainder.
# `extract` and `functions` are overlays: their time is also inside the job
# of the module that launched it (see layer_table).
LAYERS = ["extract", "canon", "pipeline", "incremental", "store", "query", "ops",
          "functions", "cli"]
QUANTITIES = [("jobs", "count"), ("busy_s", "s"), ("task_s", "s"), ("cpu_s", "s"),
              ("gc_s", "s"), ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("io_mb", "MB"),
              ("task_skew", "ratio")]
# graft top-level objects and the module each belongs to
TOP_LEVEL = {"Pipeline": "pipeline", "Incremental": "incremental", "Queries": "query",
             "SparkEntry": "query"}
HEADLINE = ["q1_agg", "q2_join_agg", "q6_window_latest", "q13_explode_tokens",
            "q19_running_sum", "d1_dedup_exact", "d3_minhash_lsh", "e1_ann_bruteforce",
            "kg_triples", "kg_step_nhash"]
# counters a unit operation records (summed within the operation)
COUNTERS = ["incremental.remapped_ids", "incremental.buckets_rewritten",
            "incremental.dead_pairs"]
STORE_TABLES = ["triples", "nodes", "edges", "components", "sameas_evidence",
                "entity_refcounts"]
MB = 1024.0 * 1024.0


def median(xs):
    return statistics.median(xs) if xs else None


def tail_percentile(xs, beyond=10):
    """The highest of the usual percentiles that leaves at least `beyond`
    samples above it, by nearest rank: (percentile, value), or None when
    the sample is too small for any of them."""
    s = sorted(xs)
    n = len(s)
    for p in (99.9, 99, 95, 90, 75, 50):
        rank = math.ceil(p / 100.0 * n)
        if rank >= 1 and n - rank >= beyond:
            return p, s[rank - 1]
    return None


def summary(xs):
    """Median, tail percentile and sample count of a timing."""
    t = tail_percentile(xs)
    return {"median": median(xs), "n": len(xs),
            "tail": None if t is None else {"p": t[0], "value": t[1]}}


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(interval, bounds):
    return (max(interval[0], bounds[0]), min(interval[1], bounds[1]))


def frame_class(frame):
    """Class name of one call-site frame, e.g.
    'graft.Pipeline$.$anonfun$materialize$4(Pipeline.scala:310)' ->
    'graft.Pipeline$'."""
    f = frame.strip()
    if f.startswith("at "):
        f = f[3:]
    f = f.split("(", 1)[0]
    return f.rsplit(".", 1)[0] if "." in f else f


def module_of(cls):
    """graft module of a class, or None for classes outside graft, in
    graft.util, or in the benchmark itself."""
    if not cls.startswith("graft."):
        return None
    parts = cls.split(".")[1:]
    if not parts or parts[0] in ("util", "perfbench"):
        return None
    if len(parts) == 1:
        name = parts[0].split("$")[0]
        return TOP_LEVEL.get(name, name.lower())
    if parts[0] == "tools" and parts[1].split("$")[0] == "KgCli":
        return "cli"
    return parts[0]


def call_site_module(details):
    """Module of the first program frame in a call-site stack."""
    for line in (details or "").splitlines():
        m = module_of(frame_class(line))
        if m:
            return m
    return None


def attribute(job, execs, span_layer):
    """(layer, how) for one job: by its root SQL execution's call site, else
    by its own stage call site, else charged to the enclosing benchmark
    span ('span')."""
    for key in ("root", "exec"):
        x = execs.get(job.get(key, -1))
        if x is not None:
            m = call_site_module(x.get("details"))
            if m:
                return m, "frame"
    m = call_site_module(job.get("site"))
    if m:
        return m, "frame"
    return span_layer, "span"


def uses_functions(job, execs):
    x = execs.get(job.get("exec", -1)) or execs.get(job.get("root", -1))
    return bool(x and x.get("functions"))


class Acc:
    """Per-layer sums over the traced ops."""

    def __init__(self):
        self.jobs = 0
        self.intervals = []
        self.task_ms = self.cpu_ns = self.gc_ms = 0
        self.shuffle = self.spill = self.io = 0
        self.durations = []

    def add(self, agg, intervals):
        self.jobs += 1
        self.intervals.extend(intervals)
        self.task_ms += agg["task_ms"]
        self.cpu_ns += agg["cpu_ns"]
        self.gc_ms += agg["gc_ms"]
        self.shuffle += agg["shuffle_bytes"]
        self.spill += agg["spill_bytes"]
        self.io += agg["io_bytes"]
        self.durations.extend(agg["durations"])

    def metrics(self, n_ops):
        n = max(n_ops, 1)
        med = median(self.durations) or 0.0
        return {
            "jobs": self.jobs / n,
            "busy_s": union_length(self.intervals) / 1e3 / n,
            "task_s": self.task_ms / 1e3 / n,
            "cpu_s": self.cpu_ns / 1e9 / n,
            "gc_s": self.gc_ms / 1e3 / n,
            "shuffle_mb": self.shuffle / MB / n,
            "spill_mb": self.spill / MB / n,
            "io_mb": self.io / MB / n,
            "task_skew": max(self.durations) / med if med > 0 else 0.0,
        }


def layer_table(records):
    """Per-layer metrics (per traced op) and the driver remainder from a
    traced run's records."""
    spans = [r for r in records if r["type"] == "span" and r["traced"]]
    ops = {r["i"] for r in records if r["type"] == "op" and r["traced"]}
    jobs = [r for r in records if r["type"] == "job"]
    execs = {r["id"]: r for r in records if r["type"] == "exec"}
    acc = {name: Acc() for name in LAYERS}
    other = {}
    how_count = {"frame": 0, "span": 0}
    per_call = {id(s): [] for s in spans}
    outside = 0
    clipped = 0.0
    for j in jobs:
        if j["end"] < 0:
            continue
        # ms-granular job stamps against sub-ms span stamps: allow 1 ms
        span = next((s for s in spans if s["start"] - 1 <= j["start"] <= s["end"] + 1), None)
        if span is None:
            outside += 1
            continue
        interval = clip((j["start"], j["end"]), (span["start"], span["end"]))
        clipped += (j["end"] - j["start"]) - max(interval[1] - interval[0], 0)
        per_call[id(span)].append(interval)
        layer, how = attribute(j, execs, span["layer"])
        how_count[how] += 1
        (acc.get(layer) or other.setdefault(layer, Acc())).add(j["all"], [interval])
        if uses_functions(j, execs):
            acc["functions"].add(j["all"], [interval])
        if j["extract"]["tasks"] and layer != "extract":
            acc["extract"].add(j["extract"], [clip(tuple(x), (span["start"], span["end"]))
                                              for x in j["extract_spans"]])
    n = len(ops)
    out = {}
    for name in LAYERS:
        for q, v in acc[name].metrics(n).items():
            out[f"{name}.{q}"] = v
    # driver remainder: per timed call, wall minus the union of its jobs
    only = sum((s["end"] - s["start"]) - union_length(per_call[id(s)]) for s in spans)
    attributed = how_count["frame"] + how_count["span"]
    out["driver.only_s"] = only / 1e3 / max(n, 1)
    out["driver.jobs"] = attributed / max(n, 1)
    out["attrib.span_charged_jobs"] = how_count["span"] / max(n, 1)
    out["attrib.unattributed_share"] = how_count["span"] / attributed if attributed else 0.0
    extra = {
        "traced_ops": n, "traced_calls": len(spans), "jobs_in_calls": attributed,
        "jobs_outside_calls": outside,
        "other_modules": {k: v.metrics(n) for k, v in other.items()},
        # job time past the end of its call (ms stamps; should be ~0)
        "job_ms_outside_call": clipped,
    }
    return out, extra


def counters_by_op(records):
    """{counter name: [value per op]} (values of one op summed)."""
    per = {}
    for r in records:
        if r["type"] == "counter":
            per.setdefault(r["name"], {}).setdefault(r["op"], 0.0)
            per[r["name"]][r["op"]] += r["value"]
    return {k: [v[i] for i in sorted(v)] for k, v in per.items()}


def phase_walls(records, phases):
    """{phase: [wall per op]}: the walls of each op's calls summed by phase,
    a call belonging to the phase whose prefix its name starts with."""
    per = {}
    for r in records:
        if r["type"] != "span":
            continue
        for prefix, phase in phases.items():
            if r["name"].startswith(prefix):
                per.setdefault(phase, {}).setdefault(r["op"], 0.0)
                per[phase][r["op"]] += r["wall_s"]
                break
    return {k: [v[i] for i in sorted(v)] for k, v in per.items()}


def call_walls(records):
    """{call name: [wall of each call]}."""
    per = {}
    for r in records:
        if r["type"] == "span":
            per.setdefault(r["name"], []).append(r["wall_s"])
    return per


def overhead(rows, workload, digest, seed, traced_op_s):
    """Tracing overhead in percent: a traced run's op_s against the median
    op_s of the correct untraced runs (history `rows`) of the same workload
    and build inputs, preferring those of the same seed. `pct` is None when
    there are none."""
    rows = [r for r in rows if r.get("workload") == workload and r.get("trace") == 0
            and r.get("correct") and r.get("build_digest") == digest]
    if not rows or traced_op_s is None:
        return {"pct": None, "untraced_runs": 0, "seeds": []}
    rows = [r for r in rows if r["seed"] == seed] or rows
    ref = median([r["op_s"] for r in rows])
    return {"pct": 100.0 * (traced_op_s / ref - 1), "untraced_runs": len(rows),
            "seeds": sorted({r["seed"] for r in rows})}


def per_layer_names():
    """(name, unit) of every per-layer metric, in BENCHMARK.json order."""
    names = [(f"{layer}.{q}", unit) for layer in LAYERS for q, unit in QUANTITIES]
    names += [("driver.only_s", "s"), ("driver.jobs", "count"),
              ("attrib.span_charged_jobs", "count"), ("attrib.unattributed_share", "ratio")]
    names += [(c, "count") for c in COUNTERS]
    names += [(f"headline.{e}.{part}", "s") for e in HEADLINE for part in ("plan_s", "exec_s")]
    names += [(f"store.{t}.files_ratio", "ratio") for t in STORE_TABLES]
    return names
