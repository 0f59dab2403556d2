"""Turn the JVM's raw result document into the benchmark's metrics.

End-to-end metrics (untraced runs) are the same four on every workload; the
workload decides what one "op" and one "item" are (see README.md).
Per-layer metrics (traced runs) split the traced ops' wall time by the
engine module whose call site started each Spark job, and add counters.
A layer a workload does not exercise reads 0; workload-specific times are
reported as shares (%) of the op wall so that no time metric is a constant.
"""
import math
import os
import re

from stats import median, slope, tail, union_ms

HELD_OUT_SEED = 20261017

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}

# engine source file (the innermost non-Spark frame of a job's call site)
# -> layer name; other engine files fall into "other"
MODULES = {
    "Replay": "replay", "Merge": "merge", "Dedup": "dedup",
    "Validate": "validate", "SchemaEvolution": "schema_evolution",
    "IceLite": "icelite", "IceLiteSource": "icelite",
    "IceLiteScanSubstitution": "icelite", "Pipeline": "pipeline",
    "SqlMerge": "sqlmerge", "Changes": "changes", "Maintenance": "maintenance",
    "Ledger": "ledger", "DedupOps": "dedupops", "Similarity": "similarity",
}
# jobs started by the benchmark's own call (a collect of a DataFrame the
# engine built, or an eagerly executed SQL statement) belong to the engine
# module that runs that kind of op
ACTION_LAYER = {"point": "icelite", "range": "icelite", "changes": "changes",
                "merge": "sqlmerge", "update": "sqlmerge", "delete": "sqlmerge",
                "insert": "icelite", "fingerprint": "dedupops", "ann": "similarity"}
# time no engine module accounts for: jobs at unmatched call sites
# ("spark", "other") and op wall covered by no job ("driver")
UNNAMED = {"other", "spark", "driver"}
LAYERS = sorted(set(MODULES.values()) | UNNAMED)

SERVE_KINDS = ("point", "range", "changes", "fingerprint", "ann", "merge",
               "insert", "update", "delete")
DML_KINDS = ("merge", "insert", "update", "delete")

SITE_RE = re.compile(r" at ([A-Za-z0-9_$]+)\.(scala|java):\d+")


def layer_of(site, kind=""):
    """Layer of a job from its call site, e.g. 'count at Dedup.scala:96',
    and the kind of op that started it."""
    m = SITE_RE.search(site or "")
    if not m:
        return "spark"
    f = m.group(1)
    if f in MODULES:
        return MODULES[f]
    if m.group(2) == "scala" and f in PERFBENCH_FILES:
        return ACTION_LAYER.get(kind, "other")
    if m.group(2) == "scala" and f in ENGINE_FILES:
        return "other"
    return "spark"


def scala_files(base):
    out = set()
    for dirpath, _, files in os.walk(base):
        out |= {f[:-6] for f in files if f.endswith(".scala")}
    return out


HERE = os.path.dirname(os.path.abspath(__file__))
PERFBENCH_FILES = scala_files(os.path.join(HERE, "scala"))
ENGINE_FILES = scala_files(os.path.join(HERE, "..", "src", "main", "scala"))


def per_layer_names():
    names = [
        "op.count", "op.tail_ms", "op.tail_pct", "op.slope_ms",
        "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
        "spark.job_ms_per_op", "spark.driver_ms_per_op", "spark.task_ms_per_op",
        "spark.task_cpu_ms_per_op", "spark.gc_ms_per_op", "spark.busy_frac",
        "spark.task_skew", "spark.shuffle_bytes_per_op", "spark.spill_bytes_per_op",
        "spark.input_bytes_per_op", "spark.output_bytes_per_op",
        "stage.map_pct", "stage.result_pct",
        "trace.overhead", "trace.layer_coverage", "trace.layer_sum_ratio",
        "text_extract.ns_per_page",
        "table.files_added_per_op", "table.buckets_rewritten_per_op",
        "table.bytes_added_per_op", "table.files_on_disk", "table.files_per_bucket_max",
        "replay.evps_1c", "replay.scaling_eff",
        "serve.point_files_read", "serve.scan_files_read", "serve.scan_bytes_read",
        "serve.dml_jobs_per_stmt",
        "stream.overhead_ms_per_batch", "stream.state_rows", "stream.state_mem_bytes",
    ]
    names += [f"layer.{l}_pct" for l in LAYERS]
    names += [f"serve.{k}_pct" for k in SERVE_KINDS + ("compact",)]
    return names


def compute(raw, trace):
    """(result, detail): the final result object and the detail document."""
    ops = raw["ops"]
    checks = raw.get("checks", [])
    attempted = max(1, int(raw["attempted"]))
    failed = int(raw["failed"])
    correct = (failed == 0 and bool(ops) and bool(raw["setup_s"])
               and all(c["ok"] for c in checks))
    if not correct:
        # a run that failed reports its verdict and counts, not metrics
        return ({"correct": False, "attempted": attempted, "failed": max(1, failed),
                 "metrics": {}}, {"workload": raw["workload"], "checks": checks})
    detail = {"workload": raw["workload"], "checks": checks,
              "setup_s": raw["setup_s"], "phases_s": raw["phases"], "ops": len(ops),
              "jvm": raw.get("detail", {})}
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o["t1"] - o["t0"])
    detail["op_ms"] = {k: {"n": len(v), "p50": median(v), "tail": tail(v),
                           "samples": [round(x, 1) for x in v] if len(v) <= 40 else []}
                       for k, v in kinds.items()}
    if trace:
        metrics = per_layer(raw, ops, detail)
        units = per_layer_units()
    else:
        metrics = end_to_end(raw, ops)
        units = END_TO_END
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()}}
    return result, detail


def kind_p50_ms(ops):
    """Geometric mean over op kinds of each kind's median latency: every
    kind weighs the same however many ops of it a run holds."""
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o["t1"] - o["t0"])
    return math.exp(sum(math.log(median(v)) for v in kinds.values()) / len(kinds))


def end_to_end(raw, ops):
    ms = [o["t1"] - o["t0"] for o in ops]
    wall_s = sum(ms) / 1000.0
    items = sum(o["items"] for o in ops)
    return {
        "setup_s": median(raw["setup_s"]),
        "op_p50_ms": kind_p50_ms(ops),
        "items_per_s": items / wall_s if wall_s > 0 else 0.0,
        "peak_rss_mb": raw.get("detail", {}).get("vm_hwm_kb", 0) / 1024.0,
    }


def per_layer_units():
    units = {}
    for n in per_layer_names():
        if n.endswith("_ms") or "_ms_per_" in n:
            units[n] = "ms"
        elif n.endswith("_pct"):
            units[n] = "%"
        elif "bytes" in n:
            units[n] = "B"
        elif n == "text_extract.ns_per_page":
            units[n] = "ns"
        elif n == "replay.evps_1c":
            units[n] = "1/s"
        elif n in ("spark.busy_frac", "spark.task_skew", "trace.overhead",
                   "trace.layer_coverage", "trace.layer_sum_ratio", "replay.scaling_eff"):
            units[n] = "ratio"
        else:
            units[n] = "count"
    return units


def per_layer(raw, ops, detail):
    out = {n: 0.0 for n in per_layer_names()}
    cores = raw["cores"]
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    ms_all = [o["t1"] - o["t0"] for o in ops]
    p, v = tail(ms_all)
    out["op.count"] = len(traced)
    out["op.tail_pct"], out["op.tail_ms"] = p, v
    out["op.slope_ms"] = slope(ms_all)
    # per op kind that has both traced and untraced ops: median traced ÷
    # median untraced; the median of those ratios
    untraced_p50 = {k: median([o["t1"] - o["t0"] for o in untraced if o["kind"] == k])
                    for k in {o["kind"] for o in untraced}}
    ratios = [median([o["t1"] - o["t0"] for o in traced if o["kind"] == k]) / untraced_p50[k]
              for k in {o["kind"] for o in traced} & set(untraced_p50)]
    if ratios:
        out["trace.overhead"] = median(ratios)
    jobs = raw.get("jobs", [])
    stages = {s["id"]: s for s in raw.get("stages", [])}
    by_span = {}
    for j in jobs:
        key = j["span"] or ("batch:" + j["batch"] if j["batch"] else "")
        by_span.setdefault(key, []).append(j)

    wall = sum(o["t1"] - o["t0"] for o in traced)
    n = max(1, len(traced))
    tot = {k: 0.0 for k in ("jobs", "stages", "tasks", "job_ms", "run_ms", "cpu_ms", "gc_ms",
                            "shuffle", "spill", "in", "out", "map_ms", "result_ms")}
    layer_ms = {l: 0.0 for l in LAYERS}
    op_layers = {}
    skews = []
    site_ms = {}
    for o in traced:
        lo, hi = o["t0"], o["t1"]
        js = by_span.get(o["span"], [])
        tot["jobs"] += len(js)
        op_job_ms = union_ms([(j["start"], j["end"]) for j in js], lo, hi)
        tot["job_ms"] += op_job_ms
        per = {}
        for j in js:
            per.setdefault(layer_of(j["site"], o["kind"]), []).append((j["start"], j["end"]))
            site_ms[j["site"]] = site_ms.get(j["site"], 0.0) + union_ms(
                [(j["start"], j["end"])], lo, hi)
        op_layers[o["span"]] = hi - lo - op_job_ms  # the op's driver time
        for l, iv in per.items():
            ms = union_ms(iv, lo, hi)
            layer_ms[l] += ms
            op_layers[o["span"]] += ms
        ss = [stages[s] for j in js for s in j["stages"] if s in stages and stages[s]["tasks"] > 0]
        tot["stages"] += len(ss)
        for s in ss:
            tot["tasks"] += s["tasks"]
            tot["run_ms"] += s["run_ms"]
            tot["cpu_ms"] += s["cpu_ns"] / 1e6
            tot["gc_ms"] += s["gc_ms"]
            tot["shuffle"] += s["shuffle_write"]
            tot["spill"] += s["spill"]
            tot["in"] += s["in_bytes"]
            tot["out"] += s["out_bytes"]
        tot["map_ms"] += union_ms([(s["submit"], s["complete"]) for s in ss
                                   if s["shuffle_write"] > 0], lo, hi)
        tot["result_ms"] += union_ms([(s["submit"], s["complete"]) for s in ss
                                      if s["shuffle_write"] == 0], lo, hi)
        if ss:
            heavy = max(ss, key=lambda s: s["run_ms"])
            if heavy["task_ms_median"] > 0:
                skews.append(heavy["task_ms_max"] / heavy["task_ms_median"])
    driver_ms = wall - tot["job_ms"]
    out.update({
        "spark.jobs_per_op": tot["jobs"] / n, "spark.stages_per_op": tot["stages"] / n,
        "spark.tasks_per_op": tot["tasks"] / n, "spark.job_ms_per_op": tot["job_ms"] / n,
        "spark.driver_ms_per_op": driver_ms / n, "spark.task_ms_per_op": tot["run_ms"] / n,
        "spark.task_cpu_ms_per_op": tot["cpu_ms"] / n, "spark.gc_ms_per_op": tot["gc_ms"] / n,
        "spark.busy_frac": tot["run_ms"] / (wall * cores) if wall else 0.0,
        "spark.task_skew": median(skews) if skews else 0.0,
        "spark.shuffle_bytes_per_op": tot["shuffle"] / n, "spark.spill_bytes_per_op": tot["spill"] / n,
        "spark.input_bytes_per_op": tot["in"] / n, "spark.output_bytes_per_op": tot["out"] / n,
        "stage.map_pct": 100.0 * tot["map_ms"] / wall if wall else 0.0,
        "stage.result_pct": 100.0 * tot["result_ms"] / wall if wall else 0.0,
    })
    layer_ms["driver"] = driver_ms
    for l in LAYERS:
        out[f"layer.{l}_pct"] = 100.0 * layer_ms[l] / wall if wall else 0.0
    detail["job_sites_ms"] = dict(sorted(site_ms.items(), key=lambda kv: -kv[1])[:20])
    # share of the traced wall that named engine modules account for
    named_ms = sum(v for l, v in layer_ms.items() if l not in UNNAMED)
    out["trace.layer_coverage"] = named_ms / wall if wall else 0.0
    # the layers' sum over the traced ops of the kinds that also ran
    # untraced, against the untraced median wall of the same ops: the
    # per-layer times add back to the end-to-end time within ~10%
    # unless tracing, overlapping modules or lost jobs distort them
    both = [o for o in traced if o["kind"] in untraced_p50]
    if both:
        out["trace.layer_sum_ratio"] = (
            sum(op_layers[o["span"]] for o in both)
            / sum(untraced_p50[o["kind"]] for o in both))
    for k in ("files_added", "buckets_rewritten", "bytes_added"):
        xs = [o["extra"][k] for o in traced if k in o.get("extra", {})]
        if xs:
            out[f"table.{k}_per_op"] = sum(xs) / len(xs)
    for k in ("files_on_disk", "files_per_bucket_max"):
        xs = [o["extra"][k] for o in ops if k in o.get("extra", {})]
        if xs:
            out[f"table.{k}"] = xs[-1]
    serve_wall = sum(o["t1"] - o["t0"] for o in ops if o["kind"] in SERVE_KINDS)
    for k in SERVE_KINDS:
        ms = sum(o["t1"] - o["t0"] for o in ops if o["kind"] == k)
        out[f"serve.{k}_pct"] = 100.0 * ms / serve_wall if serve_wall else 0.0
    # the compactions inside DML ops
    compact_ms = sum(o["extra"].get("compact_ms", 0.0) for o in ops)
    out["serve.compact_pct"] = 100.0 * compact_ms / serve_wall if serve_wall else 0.0
    for name, kinds, key in (("serve.point_files_read", ("point",), "files_read"),
                             ("serve.scan_files_read", ("range",), "files_read"),
                             ("serve.scan_bytes_read", ("range",), "bytes_read")):
        xs = [o["extra"][key] for o in ops if o["kind"] in kinds and key in o["extra"]]
        if xs:
            out[name] = median(xs)
    dml = [o for o in traced if o["kind"] in DML_KINDS]
    if dml:
        out["serve.dml_jobs_per_stmt"] = sum(len(by_span.get(o["span"], [])) for o in dml) / len(dml)
    batches = [o for o in ops if o["kind"] == "batch"]
    if batches:
        out["stream.overhead_ms_per_batch"] = median(
            [o["t1"] - o["t0"] - o["extra"]["addbatch_ms"] for o in batches])
        out["stream.state_rows"] = batches[-1]["extra"]["state_rows"]
        out["stream.state_mem_bytes"] = batches[-1]["extra"]["state_mem_bytes"]
    for k, v in raw.get("layer_extra", {}).items():
        if k in out:
            out[k] = v
    return out
