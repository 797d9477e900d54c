"""The benchmark's arithmetic: medians and quartiles, self time of nested
spans, error rate, and the reduction of one run's raw samples into the
metrics BENCHMARK.json names."""

import statistics
from collections import defaultdict

# Spans of the program's layers, `<module>.<op>`; each reports SPAN_METRICS.
SPANS = [
    "operators.combine", "spatial.impute", "operators.recombine", "features.generate",
    "orchestration.rerun_skip",
    "operators.sample", "ml.train", "ml.impute", "operators.recombine_imputed",
    "operators.full_sample", "ml.full_train", "ml.final_predict", "raster.outputs",
    "dedup.minhash_lsh", "dedup.check_batch",
]
SPAN_METRICS = [("wall_s", "s"), ("self_s", "s"), ("cpu_s", "s"),
                ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
                ("output_bytes", "bytes"), ("core_util", "ratio")]
KERNELS = ["spatial.kernel.triangulate", "spatial.kernel.locate", "spatial.kernel.nearest",
           "dedup.kernel.shingle", "dedup.kernel.signature"]
COUNTS = [("spatial.day_columns", "count"), ("spatial.distinct_masks", "count"),
          ("dedup.pairs", "count"), ("dedup.recall", "ratio"), ("dedup.batch_hits", "count")]
TRACE = [("trace.overhead_s", "s"), ("trace.stage_coverage", "ratio")]

END_TO_END = [("wall_s", "s"), ("rows_per_s", "rows/s"), ("cpu_s", "s"),
              ("output_bytes", "bytes"), ("setup_s", "s")]


def per_layer_names():
    """Every per-layer metric as (name, unit), in report order."""
    out = [(f"{s}.{m}", u) for s in SPANS for m, u in SPAN_METRICS]
    out += [(f"{k}.wall_s", "s") for k in KERNELS]
    return out + COUNTS + TRACE


def summary(values):
    """(median, first quartile, third quartile, sample count)."""
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    if len(v) == 1:
        return v[0], v[0], v[0], 1
    q1, _, q3 = statistics.quantiles(v, n=4)
    return statistics.median(v), q1, q3, len(v)


def median(values):
    return summary(values)[0]


def error_rate(attempted, failed):
    if attempted < 1:
        raise ValueError("no operations attempted")
    return failed / attempted


def self_time(span, children):
    """The span's duration minus the part of it its children cover; children
    may overlap each other and stick out of the parent."""
    lo, hi = span["start_s"], span["end_s"]
    covered, reach = 0.0, lo
    for c in sorted(children, key=lambda c: c["start_s"]):
        s, e = max(c["start_s"], reach), min(c["end_s"], hi)
        if e > s:
            covered += e - s
            reach = e
    return (hi - lo) - covered


def end_to_end(raw):
    """Metric name → (median, q1, q3, n) over the untraced iterations."""
    it = raw["untraced"]
    wall = summary([s["wall_s"] for s in it])
    out = {
        "wall_s": wall,
        "rows_per_s": summary([raw["rows"] / s["wall_s"] for s in it]),
        "cpu_s": summary([s["cpu_s"] for s in it]),
        "output_bytes": summary([s["output_bytes"] for s in it]),
    }
    prep = summary(raw["prepare_s"])
    setup = raw["session_s"] + prep[0]
    out["setup_s"] = (setup, setup - prep[0] + prep[1], setup - prep[0] + prep[2], prep[3])
    return out


def per_layer(raw):
    """Metric name → median over the traced iterations. Spans, kernels and
    counts a workload does not reach report 0."""
    spans = raw["spans"]
    children = defaultdict(list)
    for s in spans:
        children[(s["trace"], s["parent"])].append(s)
    per_trace = defaultdict(lambda: defaultdict(float))
    for s in spans:
        acc = per_trace[s["trace"]]
        wall = s["end_s"] - s["start_s"]
        acc[f"{s['name']}.wall_s"] += wall
        acc[f"{s['name']}.self_s"] += self_time(s, children[(s["trace"], s["id"])])
        for k, v in s["metrics"].items():
            acc[f"{s['name']}.{k}"] += v
    roots = [s for s in spans if s["parent"] == 0 and s["name"].startswith("workload.")]

    out = {}
    for name, _ in per_layer_names():
        values = [acc[name] for acc in per_trace.values() if name in acc]
        out[name] = median(values) if values else 0.0
    cpus = raw["cpus"]
    for s in SPANS:
        utils = [acc[f"{s}.cpu_s"] / (acc[f"{s}.wall_s"] * cpus)
                 for acc in per_trace.values() if acc.get(f"{s}.wall_s", 0) > 0]
        out[f"{s}.core_util"] = median(utils) if utils else 0.0
    for name, _ in COUNTS:
        if name in raw["counts"]:
            out[name] = median(raw["counts"][name])
    if roots and raw["traced"]:
        # The traced run times a cold untraced iteration, then a traced one
        # and the untraced one it is compared with.
        out["trace.overhead_s"] = raw["traced"][0]["wall_s"] - raw["untraced"][-1]["wall_s"]
        out["trace.stage_coverage"] = median([
            sum(c["end_s"] - c["start_s"] for c in children[(r["trace"], r["id"])])
            / (r["end_s"] - r["start_s"]) for r in roots])
    return out
