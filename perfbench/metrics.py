"""Turns round records and spans into the benchmark's metrics.

The result line carries the metrics BENCHMARK.json lists, which every
workload reports: the end-to-end ones on untraced runs, the per-layer ones on
traced runs. The report line before it carries the wall-clock times, the time
of each engine call in a round with its sample count, the failure fraction
and, on traced runs, every layer's metrics under the layer's own name, each
layer's self time and the tracing overhead. No number appears under two
names, except that a traced result line reads ``iterate.*`` from the layer
that iterates on the workload (``pagerank`` or ``labelprop``).
"""

from __future__ import annotations

import json
import os

from workloads import median, p90

# CPU seconds of the Spark JVM and this process; wall-clock times go to the
# report line (see CpuClock in run.py for why)
END_TO_END = {"setup_s": "s", "round_cpu_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "iterate.supersteps": "count",
    "iterate.superstep_p50_s": "s",
    "iterate.superstep_p90_s": "s",
    "iterate.build_s": "s",
    "iterate.jobs_per_superstep": "count",
    "iterate.tasks_per_superstep": "count",
}
# the layer whose metrics iterate.* reads, and the spans of its calls
ITERATE = {
    "solve": ("pagerank", ("pagerank.pagerank",)),
    "communities": ("lpa", ("labelprop.label_propagation",)),
}


def m(value, unit, samples=None) -> dict:
    d = {"value": value, "unit": unit}
    if samples is not None:
        d["samples"] = samples
    return d


class Spans:
    """Finished spans grouped by the timed round they belong to."""

    def __init__(self, tracer):
        self.all = tracer.finished()
        kids: dict = {}
        for s in self.all:
            kids.setdefault(s["parent"], []).append(s)
        self.rounds: dict[int, list[dict]] = {}
        for root in (s for s in self.all if s["name"] == "bench.round"):
            stack, below = [root], []
            while stack:
                s = stack.pop()
                below.append(s)
                stack.extend(kids.get(s["id"], []))
            self.rounds[root["round"]] = below

    def root(self, r: int) -> dict:
        return next(s for s in self.rounds[r] if s["name"] == "bench.round")

    def per_round(self, r: int, names, key: str) -> float:
        return sum(s[key] for s in self.rounds[r] if s["name"] in names)

    def layer_self(self, r: int) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.rounds[r]:
            layer = s["name"].split(".")[0]
            out[layer] = out.get(layer, 0.0) + s["self"]
        return out


def summarize(wl, args, rounds, setup_secs, setup_cpu, tracer, peak_rss_mb, work):
    checks = [(name, ok) for r in rounds for name, ok in r["checks"]]
    if wl.edge_check is not None:
        checks.append(("extract", wl.edge_check[0]))
    attempted = len(checks)
    failed_checks = sorted({name for name, ok in checks if not ok})
    failed = sum(not ok for _, ok in checks)
    good = [r for r in rounds if "error" not in r]
    report = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "attempted": attempted, "failed": failed, "rounds": len(rounds), "setup_reps_s": setup_secs,
        "failed_checks": failed_checks,
    }
    if not good:
        return None, report
    steady = [s for r in good for s in r["steady"]]
    e2e = {
        "setup_s": median(setup_cpu),
        "round_cpu_s": median([r["cpu_s"] for r in good]),
    }
    report["samples"] = {"setup_s": len(setup_cpu), "round_cpu_s": len(good)}
    wall = {
        "setup_s": median(setup_secs),
        "round_s": median([r["secs"] for r in good]),
        "superstep_edges_per_s": good[0]["edges"] / median(steady),
    }
    report["wall"] = {
        "setup_s": m(wall["setup_s"], "s", len(setup_secs)),
        "round_s": m(wall["round_s"], "s", len(good)),
        "superstep_edges_per_s": m(wall["superstep_edges_per_s"], "edges/s", len(steady)),
    }
    report["calls"] = call_metrics(wl, good, attempted, failed)
    last_path = os.path.join(work, "last", f"{wl.name}.json")
    if not tracer.enabled:
        os.makedirs(os.path.dirname(last_path), exist_ok=True)
        with open(last_path, "w") as f:
            json.dump({"seed": args.seed, **e2e, **wall}, f)
        metrics = {k: m(e2e[k], unit) for k, unit in END_TO_END.items()}
    else:
        spans = Spans(tracer)
        layers = layer_metrics(wl, good, spans, peak_rss_mb)
        flat = {k: v for layer in layers.values() for k, v in layer.items()}
        prefix = ITERATE[wl.name][0]
        metrics = {k: m(flat[prefix + k[len("iterate"):] if k.startswith("iterate.") else k], unit)
                   for k, unit in PER_LAYER.items()}
        report["layers"] = layers
        report["self_s_per_round"] = {
            k: median([spans.layer_self(r["round"]).get(k, 0.0) for r in good])
            for k in sorted({k for r in good for k in spans.layer_self(r["round"])})
        }
        report["tracing_overhead"] = overhead(last_path, {**e2e, **wall})
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, report


def call_metrics(wl, good, attempted, failed) -> dict:
    """Time per engine call in a round, with sample counts, and the failures."""
    out = {"failed_frac": m(failed / attempted, "ratio", attempted)}
    for part in good[0]["parts"]:
        vals = [v for r in good for v in r["parts"][part]]
        out[part] = m(median(vals), "s", len(vals))
    return out


def layer_metrics(wl, good, spans, peak_rss_mb) -> dict:
    """Per-layer metrics under each engine module's name."""

    def round_med(names, key):
        return median([spans.per_round(r["round"], names, key) for r in good])

    def roots_med(key):
        return median([spans.root(r["round"])[key] for r in good])

    out = {
        "session": {
            "session.start_s": next(s for s in spans.all if s["name"] == "session.start")["dur"],
            "session.peak_rss_mb": peak_rss_mb,
            "spark.jobs": roots_med("all_jobs"),
            "spark.stages": roots_med("all_stages"),
            "spark.tasks": roots_med("all_tasks"),
        },
    }
    it_names = ITERATE[wl.name][1]
    steady = [s for r in good for s in r["steady"]]

    def rec_med(key):
        return median([r[key] for r in good])

    if wl.name == "solve":
        steps = [r["supersteps"] for r in good]
        out["extract"] = {
            "extract.s": rec_med("extract_s"),
            "extract.sha_check_s": rec_med("sha_check_s"),
            "extract.edges": wl.edge_check[1],
            "extract.jobs": round_med(("extract.assert_sha_invariant", "extract.extract_edges",
                                       "extract.materialize"), "all_jobs"),
        }
        out["pagerank"] = {
            "pagerank.build_s": rec_med("build_s"),
            "pagerank.supersteps": median(steps),
            "pagerank.supersteps_min": min(steps),
            "pagerank.supersteps_max": max(steps),
            "pagerank.superstep_p50_s": median(steady),
            "pagerank.superstep_p90_s": p90(steady),
            "pagerank.decode_s": rec_med("decode_s"),
            "pagerank.jobs_per_superstep": median(
                [spans.per_round(r["round"], it_names, "all_jobs") / r["supersteps"] for r in good]),
            "pagerank.tasks_per_superstep": median(
                [spans.per_round(r["round"], it_names, "all_tasks") / r["supersteps"] for r in good]),
        }
        return out

    out["components"] = {
        "cc.rounds": rec_med("cc_rounds"),
        "cc.setup_s": rec_med("cc_setup_s"),
        "cc.rounds_s": rec_med("cc_rounds_s"),
        "cc.jobs": round_med(("components.connected_components", "components.labels"), "all_jobs"),
    }
    out["labelprop"] = {
        "lpa.encode_s": rec_med("lpa_encode_s"),
        "lpa.cache_fill_s": rec_med("lpa_cache_fill_s"),
        "lpa.build_s": rec_med("lpa_build_s"),
        "lpa.supersteps": rec_med("lpa_supersteps"),
        "lpa.superstep_p50_s": median(steady),
        "lpa.superstep_p90_s": p90(steady),
        "lpa.jobs": round_med(it_names + ("labelprop.labels",), "all_jobs"),
        "lpa.jobs_per_superstep": median(
            [spans.per_round(r["round"], it_names, "all_jobs") / r["lpa_supersteps"] for r in good]),
        "lpa.tasks_per_superstep": median(
            [spans.per_round(r["round"], it_names, "all_tasks") / r["lpa_supersteps"] for r in good]),
    }
    out["checkpoint"] = {
        "checkpoint.supersteps_written": rec_med("ckpt_written"),
        "checkpoint.bytes_per_superstep": rec_med("ckpt_bytes"),
        "checkpoint.superstep_p50_s": median([s for r in good for s in r["ckpt_write_secs"]]),
    }
    return out


def overhead(last_path: str, traced: dict) -> dict:
    """Traced vs the latest untraced run of this workload (same checkout)."""
    if not os.path.exists(last_path):
        return {"note": "no untraced run of this workload recorded yet"}
    with open(last_path) as f:
        base = json.load(f)
    out = {"untraced_seed": base["seed"]}
    for k in ("setup_s", "round_cpu_s", "round_s"):
        if k in base:  # a record left by an older benchmark may lack it
            out[k + "_frac"] = traced[k] / base[k] - 1.0
    return out
