"""Summaries of the harness's raw record: the end-to-end and per-layer
metrics, the output-check verdict, and the side-file breakdowns.

Pure functions over plain data, so the benchmark's own logic is tested
without Spark (`python3 -m unittest discover -s perfbench/tests`).
"""

import math
import statistics

# Percentiles tried for a timing's tail, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)

MODULES = ("ops.dedup", "ops.similarity", "ops.urlops", "ops.textops",
           "ops.linkgraph", "ops.sketches", "sources.warc", "relational")

CORE_KERNELS = ("extract_docs_per_s", "catalog_items_per_s", "canon_urls_per_s",
                "robots_checks_per_s", "bloom_probes_per_s", "cuckoo_probes_per_s")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def nearest_rank(sorted_xs, pct):
    """Nearest-rank percentile: the value at rank ceil(pct/100 * n)."""
    rank = max(1, math.ceil(pct / 100.0 * len(sorted_xs)))
    return rank, sorted_xs[rank - 1]


def timing_summary(samples):
    """Median plus the highest percentile with at least ten samples
    beyond it (None when there are too few samples), with the count."""
    xs = sorted(samples)
    out = {"n": len(xs), "p50": median(xs), "tail_pct": None, "tail": None}
    for pct in TAIL_PERCENTILES:
        if not xs:
            break
        rank, value = nearest_rank(xs, pct)
        if len(xs) - rank >= 10:
            out["tail_pct"], out["tail"] = pct, value
            break
    return out


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
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


def self_time(span, children):
    """A span's duration minus the union of its children's intervals,
    each clipped to the span."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def error_rate(ops):
    """(attempted, failed, rate): an operation fails when it threw or an
    output check on it failed."""
    attempted = len(ops)
    failed = sum(1 for o in ops if o["errors"])
    return attempted, failed, (failed / attempted if attempted else 0.0)


def children_of(op, jobs):
    """Jobs that started inside the operation's span."""
    return [j for j in jobs if op["start_ms"] <= j["start_ms"] <= op["end_ms"]]


def steps(ops):
    """Groups operations into steps (a wave, or a pass over the query
    mix): [(wall_s, cpu_s)] in step order."""
    acc = {}
    for o in ops:
        w, c = acc.get(o["step"], (0.0, 0.0))
        acc[o["step"]] = (w + o["wall_s"], c + o["cpu_s"])
    return [acc[k] for k in sorted(acc)]


def span_metrics(op, jobs, cores):
    """Per-wave layer numbers of one traced operation span (seconds)."""
    kids = children_of(op, jobs)
    span = (op["start_ms"], op["end_ms"])
    wall = (span[1] - span[0]) / 1e3
    driver = self_time(span, [(j["start_ms"], j["end_ms"]) for j in kids]) / 1e3
    covered = wall - driver
    run = sum(j["run_ms"] for j in kids) / 1e3
    return {
        "jobs": len(kids),
        "driver_s": driver,
        "slot_idle_frac": 1.0 - run / (covered * cores) if covered > 0 else 0.0,
        "task_cpu_s": sum(j["cpu_ms"] for j in kids) / 1e3,
        "gc_s": sum(j["gc_ms"] for j in kids) / 1e3,
        "shuffle_mb": sum(j["shuffle_bytes"] for j in kids) / 1e6,
        "spill_mb": sum(j["spill_bytes"] for j in kids) / 1e6,
        "input_mb": sum(j["input_bytes"] for j in kids) / 1e6,
        "output_mb": sum(j["output_bytes"] for j in kids) / 1e6,
    }


def spans(raw):
    """The traced run's spans: one per traced operation, with the jobs
    that started inside it as children (epoch milliseconds)."""
    run = f"{raw['workload']}-seed{raw['seed']}"
    out = []
    for k, op in enumerate(o for o in raw["ops"] if o["traced"]):
        sid = f"op{k}"
        out.append({"id": sid, "parent": None, "name": f"{op['kind']} {op['name']}",
                    "start_ms": op["start_ms"], "end_ms": op["end_ms"], "run": run})
        out += [{"id": f"job{j['id']}", "parent": sid, "name": j["site"],
                 "start_ms": j["start_ms"], "end_ms": j["end_ms"], "run": run}
                for j in children_of(op, raw["jobs"])]
    return out


def job_breakdown(ops, jobs):
    """Task CPU of the traced operations' jobs by call site, largest
    first, with each site's share of the total."""
    by_site = {}
    for op in ops:
        for j in children_of(op, jobs):
            cpu, n = by_site.get(j["site"], (0.0, 0))
            by_site[j["site"]] = (cpu + j["cpu_ms"] / 1e3, n + 1)
    total = sum(c for c, _ in by_site.values()) or 1.0
    rows = [{"site": s, "jobs": n, "task_cpu_s": c, "share": c / total}
            for s, (c, n) in by_site.items()]
    return sorted(rows, key=lambda r: -r["task_cpu_s"])


def check_pins(raw, pins):
    """Errors from comparing the run with the digests pinned for its
    seed: the input fingerprint, and each operation's output digest."""
    errors = []
    if pins.get("fingerprint") != raw["fingerprint"]:
        errors.append(f"input fingerprint {raw['fingerprint']} != pinned {pins.get('fingerprint')}")
    for op in raw["ops"]:
        want = pins.get("ops", {}).get(op["name"])
        if op["digest"] and want != op["digest"]:
            op["errors"].append(f"{op['name']}: output digest {op['digest']} != pinned {want}")
    return errors


def pins_of(raw):
    """The digests a run would pin for its seed."""
    ops = {}
    for op in raw["ops"]:
        if op["digest"] and not op["errors"]:
            ops.setdefault(op["name"], op["digest"])
    return {"fingerprint": raw["fingerprint"], "ops": dict(sorted(ops.items()))}


def setup_seconds(raw):
    """Set-up: session start (from the JVM's start), the median of the
    repeated input generations, and the one-time pre-build (store or
    warm-up passes)."""
    return raw["session_s"] + median(raw["inputs_s"]) + raw["prebuild_s"]


def trace_overhead(untraced, traced):
    """Traced wall over untraced wall, summed over the operations both
    sets ran (median wall per operation name)."""
    def per_name(ops):
        acc = {}
        for o in ops:
            acc.setdefault(o["name"], []).append(o["wall_s"])
        return {k: median(v) for k, v in acc.items()}
    u, t = per_name(untraced), per_name(traced)
    common = sorted(set(u) & set(t))
    base = sum(u[k] for k in common)
    return sum(t[k] for k in common) / base if base else 0.0


def end_to_end(raw, ops):
    """The end-to-end metrics, from untraced operations only."""
    st = steps(ops)
    return {
        "setup_s": (setup_seconds(raw), "s"),
        "step_p50_s": (median([w for w, _ in st]), "s"),
        "step_cpu_s": (median([c for _, c in st]), "s"),
    }


def per_layer(raw, untraced, traced, all_ops):
    """Every per-layer metric; a layer the workload does not reach
    reads 0."""
    m = {}
    cores = raw["cores"]
    jobs = raw["jobs"]
    waves_u = [o for o in untraced if o["kind"] == "wave"]
    queries_u = [o for o in untraced if o["kind"] == "query"]
    urls = sum(o["work"] for o in waves_u)
    wall = sum(o["wall_s"] for o in waves_u)
    m["urls_per_s"] = (urls / wall if wall else 0.0, "1/s")
    m["wave_p50_s"] = (median([o["wall_s"] for o in waves_u]), "s")
    m["wave_n"] = (len(waves_u), "count")
    m["cpu_s_per_kurl"] = (sum(o["cpu_s"] for o in waves_u) / urls * 1e3 if urls else 0.0, "s")
    passes = steps(queries_u)
    m["query_total_s"] = (median([w for w, _ in passes]), "s")
    m["query_cpu_s"] = (median([c for _, c in passes]), "s")
    m["error_rate"] = (error_rate(all_ops)[2], "ratio")
    m["rss_peak_mb"] = (raw["rss_peak_mb"], "MB")
    m["setup.session_s"] = (raw["session_s"], "s")
    m["setup.inputs_s"] = (median(raw["inputs_s"]), "s")
    m["setup.prebuild_s"] = (raw["prebuild_s"], "s")
    m["trace_overhead_frac"] = (trace_overhead(untraced, traced), "ratio")

    waves_t = [o for o in traced if o["kind"] == "wave"]
    spans = [span_metrics(o, jobs, cores) for o in waves_t]
    units = {"jobs": "count", "slot_idle_frac": "ratio"}
    for k in ("jobs", "driver_s", "slot_idle_frac", "task_cpu_s", "gc_s",
              "shuffle_mb", "spill_mb", "input_mb", "output_mb"):
        unit = units.get(k, "MB" if k.endswith("_mb") else "s")
        m[f"wave.{k}"] = (median([s[k] for s in spans]), unit)

    store = raw["rows"].get("store", [])
    last = max((r["wave"] for r in store), default=None)
    at_last = [r for r in store if r["wave"] == last]
    for k, unit in (("files", "count"), ("mb", "MB"), ("bytes_per_article", "B"),
                    ("read_plan_s", "s")):
        m[f"store.{k}"] = (median([r[k] for r in at_last]), unit)

    seen = raw["rows"].get("seen", [])
    probed = sum(r["probed"] for r in seen)
    maybe = sum(r["maybe"] for r in seen)
    m["seen.probed"] = (median([r["probed"] for r in seen]), "count")
    m["seen.bloom_pos_frac"] = (sum(r["bloom_pos"] for r in seen) / probed if probed else 0.0, "ratio")
    m["seen.cuckoo_pos_frac"] = (sum(r["cuckoo_pos"] for r in seen) / probed if probed else 0.0, "ratio")
    m["seen.exact_hit_frac"] = (sum(r["exact_hits"] for r in seen) / maybe if maybe else 0.0, "ratio")
    m["seen.probe_s"] = (median([r["probe_s"] for r in seen]), "s")

    core = raw["extras"].get("core", {})
    for k in CORE_KERNELS:
        m[f"core.{k}"] = (core.get(k, 0.0), "1/s")

    queries_t = [o for o in traced if o["kind"] == "query"]
    by_query = {}
    for o in queries_t:
        by_query.setdefault((o["name"], o["module"]), []).append(o)
    rollup = {mod: 0.0 for mod in MODULES}
    for (name, mod), xs in sorted(by_query.items()):
        q_s = median([o["wall_s"] for o in xs])
        m[f"query.{name}_s"] = (q_s, "s")
        m[f"query.{name}_cpu_s"] = (median([o["cpu_s"] for o in xs]), "s")
        rollup[mod] = rollup.get(mod, 0.0) + q_s
    for mod in MODULES:
        m[f"{mod}_s"] = (rollup[mod], "s")
    return m


def summarize(raw, pins=None, query_names=()):
    """(result line, side record). `pins` are the digests pinned for the
    run's seed, or None when the seed is not the pinned one."""
    ops = raw["ops"]
    problems = check_pins(raw, pins) if pins is not None else []
    attempted, failed, _ = error_rate(ops)
    untraced = [o for o in ops if not o["traced"]]
    traced = [o for o in ops if o["traced"]]
    if raw["trace"]:
        metrics = per_layer(raw, untraced, traced, ops)
        for q in query_names:
            metrics.setdefault(f"query.{q}_s", (0.0, "s"))
            metrics.setdefault(f"query.{q}_cpu_s", (0.0, "s"))
    else:
        metrics = end_to_end(raw, untraced)
    result = {
        "correct": failed == 0 and not problems and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }
    side = {
        "workload": raw["workload"], "seed": raw["seed"], "trace": raw["trace"],
        "result": result, "problems": problems,
        "inputs_s": raw["inputs_s"], "prebuild_s": raw["prebuild_s"],
        "session_s": raw["session_s"],
        "step_wall_s": timing_summary([w for w, _ in steps(untraced)]),
        "errors": [e for o in ops for e in o["errors"]],
        "pins": pins_of(raw),
        "ops": [{k: o[k] for k in ("name", "step", "traced", "wall_s", "cpu_s", "work")} for o in ops],
        "store_rows": raw["rows"].get("store", []),
        "seen_rows": raw["rows"].get("seen", []),
        "job_breakdown": job_breakdown(traced, raw["jobs"]),
        "spans": spans(raw),
    }
    return result, side
