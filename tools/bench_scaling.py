"""Two-parallelism scaling run (BASELINE.json north_rule: N vs 4N
executors): Spark standalone local-cluster with REAL separate executor
JVMs, 1x4 vs 4x4 executors on the same machine and input — only the
executor count varies.

Scaling is measured where compute dominates the Spark per-job floor: the
sf=16 synthetic link graph (16M files, ~65M edges). Operators covered
per the north_rule ("the engine", not one operator): PageRank relational
+ CSR (fixed 12 supersteps, textbook mode), connected components (star
contraction to convergence), and 4-iteration LPA. The driver-facing
bench.py (sf0.1, local mode) numbers are recorded alongside. Writes
BENCH/BASELINE.md + raw JSON.

Usage: python tools/bench_scaling.py [--sf 16.0] [--iters 12] [--ops relational,csr,cc,lpa]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(REPO, "BENCH")

SCALE_SNIPPET = r"""
import json, os, sys, time
sys.path.insert(0, os.getcwd())  # run as a subprocess with cwd=REPO
from pyspark.sql import SparkSession, functions as F
from pagerank_project_spark.config import PageRankConfig
from pagerank_project_spark.datagen import ensure_fixture
from pagerank_project_spark.operators.extract import vertices_from_files

sf = float(sys.argv[1]); nexec = int(sys.argv[2]); iters = int(sys.argv[3]); op = sys.argv[4]
cc_pin = int(sys.argv[5]) if len(sys.argv) > 5 else 8_000_000
prep_buckets = int(sys.argv[6]) if len(sys.argv) > 6 else 0  # 0 = task slots
# host-noise fingerprint: the CPU steal fraction of the leg (the /proc/stat
# counter perfbench reports), so a leg run on a stolen host is visible
from perfbench.run import cpu_steal
steal0 = cpu_steal()
cores_per = 4
tot = nexec * cores_per
# REAL separate executor JVMs (spark standalone local-cluster): the faithful
# sandbox stand-in for an N- vs 4N-executor cluster — per-executor GC and
# cross-JVM shuffle, unlike local[N] threads sharing one heap.
import atexit, shutil, tempfile
# UNIQUE tmpfs dir per run (a fixed path + rmtree kills any concurrent
# local-cluster job's live worker dirs)
_ldir = tempfile.mkdtemp(prefix="spark-local-", dir="/dev/shm")
atexit.register(lambda: shutil.rmtree(_ldir, ignore_errors=True))
spark = (SparkSession.builder.master(f"local-cluster[{nexec},{cores_per},13312]")
         .appName(f"scale-{op}-{nexec}x{cores_per}")
         # tmpfs shuffle dirs: all executor JVMs on one box share ONE
         # physical disk, which a real N-node cluster does not — the 4x4
         # leg's aggregate shuffle-write demand is 4x the 1x4 leg's and a
         # shared spindle caps it artificially. RAM-backed local dirs
         # model per-node disks (each node of a real cluster brings its
         # own); documented in BENCH/BASELINE.md.
         .config("spark.local.dir", _ldir)
         .config("spark.sql.shuffle.partitions", str(tot))
         .config("spark.executor.memory", "12g")
         .config("spark.driver.memory", "8g")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.ui.enabled", "false")
         # executor-side python workers must import pagerank_project_spark
         # (the CSR path ships pandas-UDF closures); on a real cluster this
         # is the --py-files zip from tools/submit.sh
         .config("spark.executorEnv.PYTHONPATH", os.getcwd())
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
fix = ensure_fixture(sf)
# the link graph itself (edge extraction parity with the content regexes is
# pinned by pytest + the code_extract_summary oracle; the scaling metric
# starts at the edge table, as the north_rule's superstep throughput does)
edges = spark.read.parquet(f"{fix}/intended_edges").select("src", "dst")
if op not in ("cc", "scc"):
    # the iterative PR/LPA loops re-read edges every superstep — persist.
    # CC/SCC read them exactly ONCE (into their own persisted canonical /
    # active sets): persisting would only occupy executor heap (measured:
    # evicts the canon cache at 1x4); parquet row-group splits parallelize
    # the single scan.
    edges = edges.repartition(tot).persist()
n_edges = edges.count()
files = spark.read.parquet(f"{fix}/source_table/data")
verts = vertices_from_files(files).persist(); n_verts = verts.count()  # column-pruned scan (repo, path)

out = {"executors": nexec, "cores_per_executor": cores_per, "sf": sf, "op": op,
       "n_edges": n_edges, "n_vertices": n_verts}
t0 = time.time()
if op in ("relational", "csr"):
    from pagerank_project_spark.operators.pagerank import pagerank
    # standard (textbook) mode: in 'reference' mode the L2-normalized teleport
    # vector (SURVEY.md §2 op-14 quirk) carries ~sqrt(n)x the edge mass, so at
    # n>=1M the dynamics converge in ~4 supersteps — too few to measure.
    # epsilon=0 -> exactly `iters` supersteps; convergence='l1_delta'
    # exercises the fused single-action metric path the bench criterion uses.
    cfg = PageRankConfig(mode="standard", epsilon=0.0, max_iterations=iters,
                         convergence="l1_delta", strategy=op)
    res = pagerank(spark, edges, vertices=verts, cfg=cfg)
    dt = time.time() - t0
    steady = sorted(res.iter_secs[2:])  # first 2 supersteps carry codegen/shuffle warmup
    med = steady[len(steady) // 2]
    out.update({"iters": res.iterations, "wall_sec": round(dt, 2), "setup_sec": res.setup_sec,
                "iter_secs": res.iter_secs, "sec_per_iter": med,
                "edges_per_sec_per_superstep": round(n_edges / med, 1)})
elif op == "relational_fixed":
    # DIAGNOSTIC (prepared-gap isolation): the identical in-run build, but
    # the loop pinned to the prepared table's partition count (64) at BOTH
    # legs — if this reproduces the prepared rows' efficiency, the gap is
    # the partition-count/task-wave coupling, not the bucketed layout.
    from pagerank_project_spark.operators.pagerank import pagerank
    cfg = PageRankConfig(mode="standard", epsilon=0.0, max_iterations=iters,
                         convergence="l1_delta", strategy="relational",
                         num_partitions=(prep_buckets or 64))
    res = pagerank(spark, edges, vertices=verts, cfg=cfg)
    dt = time.time() - t0
    steady = sorted(res.iter_secs[2:])
    med = steady[len(steady) // 2]
    out.update({"iters": res.iterations, "wall_sec": round(dt, 2), "setup_sec": res.setup_sec,
                "iter_secs": res.iter_secs, "sec_per_iter": med,
                "edges_per_sec_per_superstep": round(n_edges / med, 1)})
elif op == "prepared_repart":
    # DIAGNOSTIC: the 64-bucket prepared table, but the loop repartitioned
    # to the leg's task slots (pagerank's buckets != nparts branch) — one
    # extra setup shuffle buys slot-matched loop partitioning. If this
    # recovers the in-run efficiency, the fix for small clusters querying
    # a large-bucketed table is 'repartition at load', mechanically.
    import os
    from pagerank_project_spark.operators.pagerank import pagerank
    from pagerank_project_spark.plans.prepared_graph import load_prepared, prepare_graph
    nb = prep_buckets or 64
    pdir = f"{fix}/prepared_{nb}b"
    if not os.path.exists(f"{pdir}/manifest.json"):
        prepare_graph(spark, edges, pdir, vertices=verts, buckets=nb)
    pg = load_prepared(spark, pdir)
    cfg = PageRankConfig(mode="standard", epsilon=0.0, max_iterations=iters,
                         convergence="l1_delta", strategy="relational")  # nparts = task slots
    t0 = time.time()
    res = pagerank(spark, cfg=cfg, prepared=pg)
    dt = time.time() - t0
    steady = sorted(res.iter_secs[2:])
    med = steady[len(steady) // 2]
    out.update({"iters": res.iterations, "wall_sec": round(dt, 2), "setup_sec": res.setup_sec,
                "iter_secs": res.iter_secs, "sec_per_iter": med,
                "edges_per_sec_per_superstep": round(n_edges / med, 1)})
elif op == "prepared":
    # "prepare once, query many": the bucketed prepared graph (built once
    # per leg bucket-count, reused by later invocations) replaces the
    # per-run encode/weight/partition setup; the loop itself is identical.
    import os
    from pagerank_project_spark.operators.pagerank import pagerank
    from pagerank_project_spark.plans.prepared_graph import load_prepared, prepare_graph

    nb = prep_buckets or tot
    pdir = f"{fix}/prepared_{nb}b"
    prep_sec = None
    if not os.path.exists(f"{pdir}/manifest.json"):
        tp = time.time()
        prepare_graph(spark, edges, pdir, vertices=verts, buckets=nb)
        prep_sec = round(time.time() - tp, 2)
    pg = load_prepared(spark, pdir)
    cfg = PageRankConfig(mode="standard", epsilon=0.0, max_iterations=iters,
                         convergence="l1_delta", strategy="relational",
                         num_partitions=pg.buckets)
    t0 = time.time()
    res = pagerank(spark, cfg=cfg, prepared=pg)
    dt = time.time() - t0
    steady = sorted(res.iter_secs[2:])
    med = steady[len(steady) // 2]
    out.update({"iters": res.iterations, "wall_sec": round(dt, 2), "setup_sec": res.setup_sec,
                "prepare_once_sec": prep_sec, "iter_secs": res.iter_secs, "sec_per_iter": med,
                "edges_per_sec_per_superstep": round(n_edges / med, 1)})
elif op == "cc":
    from pagerank_project_spark.operators.components import connected_components
    # fixed skew threshold so BOTH parallelism legs take the identical
    # window/safe/peel schedule (the dynamic rows-per-task default would
    # pick different physical paths at 1x4 vs 4x4, which is the right
    # production behavior but makes the N-vs-4N ratio compare two
    # different plans). Measured A/B at sf32 (131M edges): pin=8M (every
    # round windowed) walls 512s/179s = 0.71 eff — the window's
    # per-partition SORT is memory-bandwidth-bound and scales at only
    # ~2.3x, while every hash phase (canon distinct, peel, safe rounds)
    # scales 3.2-4.7x. pin=1M (skewed early rounds on the sort-free safe
    # path: map-side-combined groupBy-min + shuffle-hash join-back) walls
    # 563s/171s = 0.82 eff and the best 4x4 wall; identical labels and
    # component counts either way (1,643,521 at sf32). The earlier
    # "safe 2x slower" reading predated the shuffle_hash hint in
    # _join_mins, when the residual join sort-merge-sorted both sides.
    res = connected_components(spark, edges, vertices=verts, skew_threshold=cc_pin)
    t_dec = time.time()
    n_comp = res.labels.select("component").distinct().count()
    decode_sec = round(time.time() - t_dec, 2)
    dt = time.time() - t0
    steady = sorted(res.iter_secs[1:]) or res.iter_secs  # round 1 = codegen warmup
    med = steady[len(steady) // 2]
    out.update({"iters": res.iterations, "converged": res.converged, "n_components": n_comp,
                "wall_sec": round(dt, 2), "iter_secs": res.iter_secs, "sec_per_iter": med,
                "phase_secs": res.phase_secs, "decode_count_sec": decode_sec,
                "whole_run_eps": round(n_edges * res.iterations / dt, 1),
                "edges_per_sec_per_superstep": round(n_edges / med, 1)})
elif op in ("lpa_prepared", "lpa_prepared_slots"):
    # "prepare once, query many" applied to LPA: the 12-superstep
    # production-length run from the baked undirected artifact — the
    # one-time tails (validate/encode/symmetrize/cache repartition) that
    # cap the direct whole-run number are paid at prepare time, shared by
    # every query; the querying session persists the bucketed table with
    # zero shuffle and starts superstepping. Labels bitwise = direct.
    #
    # lpa_prepared       = 64-bucket artifact, repartitioned to the leg's
    #                      task slots at load (one shuffle).
    # lpa_prepared_slots = artifact BUCKETED AT THE LEG'S TASK SLOTS
    #                      (bucket count chosen for the target cluster —
    #                      the standard bucketing deployment rule): the
    #                      persist is a zero-exchange straight read AND
    #                      the loop is slots-matched.
    import os as _os
    from pagerank_project_spark.operators.labelprop import label_propagation
    from pagerank_project_spark.plans.prepared_graph import (
        load_prepared_undirected, prepare_undirected,
    )
    nb = prep_buckets or (tot if op == "lpa_prepared_slots" else 64)
    pdir = f"{fix}/prepared_und_{nb}b"
    prep_sec = None
    if not _os.path.exists(f"{pdir}/manifest.json"):
        tp = time.time()
        prepare_undirected(spark, edges, pdir, vertices=verts, buckets=nb)
        prep_sec = round(time.time() - tp, 2)
    pg = load_prepared_undirected(spark, pdir)
    lpa_iters = 12
    t0 = time.time()
    # warm_start: production-length runs amortize the pilot superstep —
    # superstep 1 otherwise carries the parallelism-invariant JIT/codegen
    # session tail (measured ~27-35 s on BOTH legs at sf16; BASELINE.md)
    res = label_propagation(spark, iterations=lpa_iters, prepared_und=pg,
                            num_partitions=(tot if op == "lpa_prepared" else None),
                            warm_start=True)
    t_dec = time.time()
    res.labels.select(F.count("*")).collect()
    decode_sec = round(time.time() - t_dec, 2)
    dt = time.time() - t0
    steady = sorted(res.iter_secs[1:]) or res.iter_secs
    med = steady[len(steady) // 2]
    out.update({"iters": lpa_iters, "wall_sec": round(dt, 2),
                "prepare_once_sec": prep_sec, "iter_secs": res.iter_secs,
                "sec_per_iter": med, "phase_secs": res.phase_secs, "decode_sec": decode_sec,
                "whole_run_eps": round(n_edges * lpa_iters / dt, 1),
                "edges_per_sec_per_superstep": round(n_edges / med, 1)})
elif op in ("lpa", "lpa_prod"):
    from pagerank_project_spark.operators.labelprop import label_propagation
    # 'lpa' = the ledger row (4 supersteps). 'lpa_prod' = production-length
    # run (12 supersteps) amortizing the one-time cache-fill/validate tails.
    lpa_iters = 12 if op == "lpa_prod" else 4
    # production-length runs amortize the warm_start pilot (see the
    # lpa_prepared cells); the 4-superstep ledger row stays pilot-free
    res = label_propagation(spark, edges, vertices=verts, iterations=lpa_iters,
                            warm_start=(op == "lpa_prod"))
    t_dec = time.time()
    res.labels.select(F.count("*")).collect()
    decode_sec = round(time.time() - t_dec, 2)
    dt = time.time() - t0
    steady = sorted(res.iter_secs[1:]) or res.iter_secs
    med = steady[len(steady) // 2]
    out.update({"iters": lpa_iters, "wall_sec": round(dt, 2),
                "iter_secs": res.iter_secs,
                "sec_per_iter": med, "phase_secs": res.phase_secs, "decode_sec": decode_sec,
                "whole_run_eps": round(n_edges * lpa_iters / dt, 1),
                "edges_per_sec_per_superstep": round(n_edges / med, 1)})
elif op in ("scc", "scc_contract"):
    # SCC whole run (FW-Trim coloring) + min-scc decode count. The code
    # graph's reachability depth sets the coloring-superstep count —
    # recorded per phase so the N-vs-4N ratio can be attributed (trim and
    # remove are groupBy/anti-join shapes; coloring and backward-BFS are
    # the join+min-agg superstep shape the PR/LPA rows already profile).
    # 'scc_contract' = the round-5 depth lever A/B: degree-1/1 chains
    # collapsed up front (contract_degree1_chains), identical labels.
    from pagerank_project_spark.operators.scc import strongly_connected_components
    res = strongly_connected_components(spark, edges, max_rounds=40,
                                        chain_contract=(op == "scc_contract"))
    t_dec = time.time()
    n_scc = res.labels.select("scc").distinct().count()
    decode_sec = round(time.time() - t_dec, 2)
    dt = time.time() - t0
    out.update({"rounds": res.rounds, "coloring_supersteps": res.coloring_supersteps,
                "bfs_supersteps": res.bfs_supersteps, "n_sccs": n_scc,
                "wall_sec": round(dt, 2), "phase_secs": res.phase_secs,
                "decode_count_sec": decode_sec,
                # rounds-normalized whole-run rate (the CC convention —
                # a nominal normalization for the leg-to-leg ratio only)
                "whole_run_eps": round(n_edges * max(res.rounds, 1) / dt, 1)})
elif op in ("ppr", "ppr_dense"):
    # batched multi-seed personalized PageRank: a deterministic ~2k-seed
    # md5 sample of the vertex set (same seeds on both legs by
    # construction), 3 supersteps, whole run incl. top-10 cut. Every
    # superstep streams the full transition cache against the
    # (seed,id)-keyed state, so edge-scans/sec (n_edges*iters/wall) is
    # the honest whole-run normalization, like CC/LPA.
    from pagerank_project_spark.operators.ppr import ppr_topk
    mod = max(1, n_verts // (20000 if op == "ppr_dense" else 2000))
    seeds = verts.filter(
        F.conv(F.substring(F.md5(F.col("id")), 1, 8), 16, 10).cast("long") % mod == 0
    )
    n_seeds = seeds.count()
    ppr_iters = 3
    t0 = time.time()
    n_out = ppr_topk(spark, edges, seeds, k=10, iterations=ppr_iters).count()
    dt = time.time() - t0
    # wall-normalized whole-run rate only — n_edges is the INPUT edge
    # count (cone=True streams the pruned cone, so this is a nominal
    # normalization for leg-to-leg ratios, NOT comparable to the
    # per-superstep edges/s of the headline ops)
    out.update({"iters": ppr_iters, "n_seeds": n_seeds, "n_out_rows": n_out,
                "wall_sec": round(dt, 2),
                "whole_run_eps": round(n_edges * ppr_iters / dt, 1)})
steal1 = cpu_steal()
out["steal_frac"] = (steal1[1] - steal0[1]) / max(1, steal1[0] - steal0[0])
print(json.dumps(out))
"""


def run_scale(sf: float, nexec: int, iters: int, op: str, retries: int = 2,
              cc_pin: int = 8_000_000, prepared_buckets: int = 0) -> dict:
    last_err = ""
    for attempt in range(retries + 1):
        out = subprocess.run(
            [sys.executable, "-c", SCALE_SNIPPET, str(sf), str(nexec), str(iters), op,
             str(cc_pin), str(prepared_buckets)],
            capture_output=True, text=True, cwd=REPO, timeout=5400,
        )
        lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
        if lines:
            return json.loads(lines[-1])
        # local-cluster executor startup is occasionally flaky right after a
        # previous cluster was torn down — wait and retry
        last_err = out.stderr[-2000:]
        time.sleep(15)
    raise RuntimeError(f"scale run failed ({op} nexec={nexec}) after {retries + 1} attempts: {last_err}")


def run_bench(cpus: int, sf_dir: str) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_SF_DIR=sf_dir)
    out = subprocess.run([sys.executable, "bench.py"], env=env, capture_output=True,
                         text=True, cwd=REPO, timeout=3600)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        raise RuntimeError(f"bench failed (cpus={cpus}): {out.stderr[-2000:]}")
    return json.loads(lines[-1])


OP_LABEL = {
    "relational": "PageRank relational (join+groupBy-sum)",
    "prepared": "PageRank relational from PREPARED graph (bucketed edges, zero-exchange)",
    "csr": "PageRank CSR pandas-UDF (salted)",
    "cc": "Connected components (star contraction, to convergence)",
    "lpa": "Label propagation (4 sync iterations)",
    "lpa_prod": "Label propagation (12 sync iterations, production-length)",
    "lpa_prepared_slots": "Label propagation from PREPARED undirected graph (slots-bucketed, 12 supersteps)",
}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=16.0)
    ap.add_argument("--iters", type=int, default=12)
    ap.add_argument("--ops", default="relational,csr,cc,lpa")
    ap.add_argument("--sf_dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--skip_bench", action="store_true")
    ap.add_argument("--regen_only", action="store_true",
                    help="skip the scale runs; rebuild BASELINE.md from the "
                         "rows already merged into BENCH/scaling.json")
    ap.add_argument("--prepared_buckets", type=int, default=0,
                    help="fixed bucket count for the prepared-graph legs (0 = task slots "
                         "of the leg). Production sizes buckets for the LARGEST target "
                         "cluster (several x its task slots); slots-sized buckets leave "
                         "the 4x4 leg zero straggler slack")
    ap.add_argument("--cc_pin", type=int, default=8_000_000,
                    help="fixed CC skew cutoff (same at both legs -> identical plans); "
                         "above every hub degree = all-window rounds, a sane hub cutoff "
                         "(e.g. 1M) = sort-free safe rounds on the skewed early rounds")
    args = ap.parse_args()
    ops = args.ops.split(",")

    # merge with prior runs: CC is benched at a different sf than PR/LPA
    # (amortization point differs), so the md/json compose across invocations
    scale: dict[tuple, dict] = {}
    if os.path.exists(os.path.join(BENCH, "scaling.json")):
        with open(os.path.join(BENCH, "scaling.json")) as f:
            for k, v in json.load(f).items():
                op_k, nexec_k = k.rsplit("_", 1)
                scale[(op_k, int(nexec_k))] = v
    for op in ops if not args.regen_only else []:
        for nexec in (1, 4):
            t0 = time.time()
            scale[(op, nexec)] = run_scale(
                args.sf, nexec, args.iters, op,
                cc_pin=args.cc_pin, prepared_buckets=args.prepared_buckets,
            )
            r = scale[(op, nexec)]
            # checkpoint the merged rows after EVERY leg: a leg is tens of
            # minutes of wall, and a crash anywhere later in main() (e.g. a
            # KeyError in a report f-string) must not lose measured data
            with open(os.path.join(BENCH, "scaling.json"), "w") as f:
                json.dump({f"{k[0]}_{k[1]}": v for k, v in scale.items()}, f, indent=2)
            rate = r.get("edges_per_sec_per_superstep", r.get("whole_run_eps", 0.0))
            print(f"{op} {nexec}x4 executors: {rate:,.0f} edges/s"
                  f"{'/superstep' if 'edges_per_sec_per_superstep' in r else ' whole-run'}, "
                  f"wall {r['wall_sec']}s ({time.time() - t0:.0f}s total)", flush=True)
    all_ops = [op for op in OP_LABEL if (op, 1) in scale and (op, 4) in scale]

    if args.skip_bench:
        # reuse the committed driver-bench rows so the regenerated md keeps
        # its table (they are refreshed by full runs / the round driver)
        bench = None
        try:
            with (
                open(os.path.join(BENCH, "local8.json")) as f8,
                open(os.path.join(BENCH, "local32.json")) as f32,
            ):
                bench = {8: json.load(f8), 32: json.load(f32)}
        except OSError:
            pass
    else:
        bench = {cpus: run_bench(cpus, args.sf_dir) for cpus in (8, 32)}
        print("bench.py sf_dir done")

    def eff(op):
        t1 = scale[(op, 1)]["edges_per_sec_per_superstep"]
        t4 = scale[(op, 4)]["edges_per_sec_per_superstep"]
        return t4 / (4 * t1)

    def whole_eff(op):
        a, b = scale[(op, 1)], scale[(op, 4)]
        if "whole_run_eps" in a and "whole_run_eps" in b:
            return f"{b['whole_run_eps'] / (4 * a['whole_run_eps']):.2f}"
        return "—"

    os.makedirs(BENCH, exist_ok=True)
    rows = "\n".join(
        f"| {OP_LABEL[op]} | {scale[(op, 1)]['sf']:g} | {scale[(op, 1)]['n_edges']:,} "
        f"| {scale[(op, 1)]['edges_per_sec_per_superstep']:,.0f} "
        f"| {scale[(op, 4)]['edges_per_sec_per_superstep']:,.0f} | {eff(op):.2f} "
        f"| {whole_eff(op)} |"
        for op in all_ops
    )
    pr_iter = (
        f"sec/iteration: relational {scale[('relational', 1)]['sec_per_iter']}s @1×4 → "
        f"{scale[('relational', 4)]['sec_per_iter']}s @4×4; CSR "
        f"{scale[('csr', 1)]['sec_per_iter']}s @1×4 → {scale[('csr', 4)]['sec_per_iter']}s @4×4."
        if "relational" in all_ops and "csr" in all_ops else ""
    )
    cc_note = (
        f"CC converged in {scale[('cc', 4)]['iters']} star rounds + driver tail "
        f"({scale[('cc', 4)]['n_components']:,} components; plain propagation "
        f"needed ~56 rounds at sf0.1 in round 1 — O(log n) vs O(diameter)). "
        f"CC whole-run wall {scale[('cc', 1)]['wall_sec']}s @1×4 → "
        f"{scale[('cc', 4)]['wall_sec']}s @4×4."
        if "cc" in all_ops else ""
    )

    scc_note = ""
    if ("scc", 1) in scale and ("scc", 4) in scale:
        a, b = scale[("scc", 1)], scale[("scc", 4)]
        scc_note = (
            f"SCC whole run (sf={a['sf']:g}, {a['n_edges']:,} edges): wall "
            f"{a['wall_sec']}s @1×4 → {b['wall_sec']}s @4×4, whole-run eff "
            f"{a['wall_sec'] / (4 * b['wall_sec']):.2f}; {a['rounds']} rounds, "
            f"{a['coloring_supersteps']} coloring + {a['bfs_supersteps']} backward "
            f"sub-steps ({a['n_sccs']:,} SCCs, identical counts and sub-step "
            f"schedule on both legs; per-phase walls in scaling.json scc_*). "
            f"The sub-step COUNT is a parallelism-invariant property of the "
            f"input (reachability depth), so whole-run scaling is governed "
            f"entirely by per-sub-step scaling — the push join + min-agg is "
            f"the same superstep shape whose throughput scaling the "
            f"PageRank/LPA headline rows evidence; at this sf the 4×4 "
            f"sub-step sits near the scheduling floor (the PPR regime), "
            f"which bounds the ratio below the throughput rows."
        )

    bench_md = ""
    if bench:
        b32 = bench[32]
        bench_md = f"""
## Driver bench (bench.py, sf_dir={args.sf_dir})

| metric | local[8] | local[32] |
|---|---|---|
| suite wall | {bench[8]["value"]}s | {bench[32]["value"]}s |
| PageRank edges/s/superstep (relational) | {bench[8]["pagerank_edges_per_sec_per_superstep"]:,.0f} | {bench[32]["pagerank_edges_per_sec_per_superstep"]:,.0f} |
| PageRank edges/s/superstep (CSR) | {bench[8]["pagerank_csr_edges_per_sec_per_superstep"]:,.0f} | {bench[32]["pagerank_csr_edges_per_sec_per_superstep"]:,.0f} |
| iterations to L1 delta < 1e-6 | {bench[8]["pagerank_iterations"]} | {bench[32]["pagerank_iterations"]} |
| CC star rounds to convergence | {bench[8]["cc_iterations"]} | {bench[32]["cc_iterations"]} |

Per-query seconds (local[32]): {json.dumps(b32["queries"])}
"""

    with open(os.path.join(BENCH, "BASELINE.md"), "w") as f:
        f.write(f"""# BENCH — measured engine numbers (this sandbox)

## Scaling evidence (north_rule: N vs 4N executors, target efficiency ≥0.8)

Spark standalone ``local-cluster`` mode — REAL separate executor JVMs with
per-executor heaps and cross-JVM shuffle (the faithful single-machine
stand-in for a multi-executor cluster; plain local[N] threads share one
heap and GC, which caps thread-scaling regardless of engine design).
Same synthetic source-code link graph per row (sf in the table; both legs
of a row use the identical input AND the identical physical-path schedule
— the CC skew cutoff is pinned so no leg silently switches plans); N=1
executor × 4 cores vs 4N=4 executors × 4 cores, 12 GB each (16 task slots
on a 32-core box — headroom for master/worker/driver JVMs and GC
threads, as on a real cluster node). ``spark.local.dir`` points at tmpfs:
all executor JVMs on one box otherwise share ONE physical disk for
shuffle, which a real N-node cluster does not (each node brings its own)
— the 4×4 leg's 4× aggregate shuffle demand would be capped by the
shared spindle, not by the engine. PageRank throughput = median
steady-state superstep (first two excluded: codegen + shuffle warmup)
over {args.iters} fixed textbook-mode supersteps with the fused
single-action L1-delta metric; CC/LPA throughput = edge-traversals/sec
over the whole run (setup, convergence checks and label decode included).

| operator | sf | edges | 1×4 edges/s/superstep | 4×4 edges/s/superstep | steady-state eff | whole-run eff |
|---|---|---|---|---|---|---|
{rows}

CC's "steady-state" column is the median ROUND of a geometrically
shrinking workload (round 2+ runs on a contracted edge set a few percent
of the input, near the barrier floor), so it structurally under-reports;
the WHOLE-RUN column — every phase from encode to label decode at the
full input size — is the meaningful CC number.

{pr_iter}
{cc_note}
{scc_note}
{bench_md}
## Reference comparison

The reference publishes no throughput numbers; its derived single-core
ceiling is 10^7–10^8 edge-traversals/s (BASELINE.md: 1.6M edges × 19 iters
in ≲2 s, torch.sparse float32, README.md:93-95 + :535-553). Round-2
changes that moved the scaling number: (a) the rank side of the superstep
join is hint-forced to a shuffled hash join — round 1 silently
auto-BROADCAST the multi-million-row checkpointed rank vector every
superstep, a driver-serial HashedRelation build that was pure non-scaling
cost; (b) the L1-delta convergence metric is fused into the single
per-superstep action via the L1 mass-conservation identity (second
cache-scan job eliminated); (c) edges are sorted once at setup so no
per-superstep edge-side sort; (d) benching at sf={args.sf} puts the
scalable term well above the ~0.2 s/job scheduling floor. Cost model per
superstep: `max(job_floor, edges/scan_bw + |V|/shuffle_bw)`; edges are
hash co-partitioned once and never reshuffled, only the |V|-sized rank
vector moves, and the scatter is map-side combined.

Round-3 changes that took CC whole-run from 0.67 (round 2, sf16
824 s→307 s) to 0.82 (sf32) while cutting wall ~4×:
(a) DRIVER-FINISH TAIL — once the contracted edge set falls under 4M
edges the remaining O(log) rounds (each a full scheduling barrier to
process <2% of the edges — the measured ~12 s/round floor at 4×4 that
capped round 2's whole run) are replaced by ONE bounded collect + a
driver-side vectorized numpy min-label pass emitting exactly the star
fixed point; labels are pinned identical to a fully-distributed run by
test. (b) LEAF PEELING + SKEW PEEL — stalled rounds (a giant component's
star forms in ~2 rounds, then every round re-scans settled children) set
leaf edges aside into a settled forest resolved by pointer jumping at
decode. (c) ZERO-SHUFFLE HASH-VID ENCODE — star mode needs only the
component PARTITION mid-run, so vids are inline xxhash64 (collision-
checked, string-sorted fallback) and the min-string relabel happens once
at decode; the round-2 sorted encode was ~80% of setup wall. (d) FUSED
ENDPOINT VALIDATION — the endpoint-coverage guard rides the decode join
(full_outer + raise_error on the join key, prune-proof) instead of a
standalone anti-join that cost 36-89 s at sf32. (e) SORT-FREE SKEWED
ROUNDS — measured A/B at sf32 (131M edges, 5M-degree hub): every
hash-based phase (canonical distinct 4.7×, peel 4.5×, safe rounds
3.2-4.5×) scales near-ideally N→4N while the window physicalization's
per-partition SORT is memory-bandwidth-bound and scales at ~2.3×; the
dynamic hub cutoff is recalibrated (SKEW_TASK_RATIO 0.5→0.2) so skewed
rounds take the map-side-combined groupBy-min + shuffle-hash join-back
path (no task buffers a hub's whole neighbor multiset — and star
contraction CREATES a degree-|C| hub per component by design, so this
path is what a converged web-scale run actually exercises).

LPA (round-4 phase-instrumented analysis; raw phase tables in
scaling.json under lpa_*/lpa_prod_*/lpa_hash_*): the whole-run number is
governed by the one-time SYMMETRIC-CACHE FILL plus late-superstep cache
scans, and round 4 both improved and root-caused it.
(a) HASH-VID A/B — applying CC's zero-shuffle xxhash64 encode to LPA
made the whole run WORSE (0.71 vs sorted's baseline), and the phase
table says why: unlike CC star (which rewrites its edge set every
round), LPA streams ONE long-lived 131M-row symmetric cache every
superstep, and the vid encoding sets that cache's compressibility —
compact string-sorted vids delta-compress, random xxhash64 vids don't,
so hash mode paid a bigger cache (slower fill AND ~20% slower superstep
scans: 103 vs 82 s/iter at 1×4) to save a 35 s encode. Sorted is the
only encoding LPA keeps.
(b) CANONICAL LONG-PAIR SYMMETRIZE — the old flow shuffled the
symmetrized STRING multiset through its distinct before vids existed;
encoding first and deduping greatest/least LONG pairs (canon ∪ reverse
IS the symmetric set — the CC shape) cut cache_fill 272→219 s at 1×4
and 163→81 s at 4×4, taking its N→4N scaling from 1.7× to 3.1× and both
absolute walls down (698/257 s vs 789/300 s for the 4-superstep run).
(c) WHAT REMAINS — at 4 supersteps the run is tail+warmup-dominated
(whole-run 0.68); at production length (lpa_prod, 12 supersteps) the
tails amortize to whole-run 0.775 with steady-state 0.83. The residual
gap is a ONE-BOX ceiling, not an engine artifact: the terms that remain
below 4× are exactly the memory-bandwidth-bound ones — cache fill 3.1×,
and LATE supersteps (labels stabilized → the map-side-combined agg does
little CPU work and the superstep degenerates to streaming the 131M-row
cache: 52 s→16 s, 3.2×) — while every CPU/shuffle-bound term scales
≥4× (validate 4.3×, early supersteps 0.9 eff). 4 cores and 16 cores
share the same DRAM bus here; a real 4-node cluster brings 4× the
aggregate memory bandwidth per the same core ratio. Single-run
whole-run RATIOS at this scale also carry ±0.05-0.1 run-to-run noise
(round 3 measured 0.79 on slower code; the steady-state medians are the
stable signal).
(d) FRONTIER MODE (round 4, BENCH/lpa_frontier_sf1.json) — an exact
changed-neighbor gather (broadcast semi-join filter over the cache,
untouched vertices carry labels) was built, pinned bitwise-equal, and
A/B'd at sf1/12 supersteps: with sync-LPA churn stalled at ~2% the
filtered path ran 7-9 s/superstep vs 1.1 s full — two cache streams
plus the state carry outweigh the skipped gather — so it was removed;
frontier=True keeps only the provably-identity fixpoint EARLY STOP.

PREPARED UNDIRECTED LPA (round 5 — rows lpa_prepared64_* /
lpa_prepared_* / lpa_prepared_slots_* in scaling.json; 12 supersteps,
sf16, prepare-once cost reported separately as prepare_once_sec). The
round-4 snapshot left the lpa_prepared_* cells unanalyzed and they
looked broken: 795 s at 4×4, 2× WORSE than the 384 s unprepared
lpa_prod_4 run the artifact exists to beat. The controlled three-cell A/B
run for the directed prepared graph was repeated for LPA and pins it:
(1) 64-BUCKET, ZERO-EXCHANGE (lpa_prepared64): 73.6/26.3 s/iter,
whole-run eff 0.55 — the fixed-64-task ratio artifact (constant
per-task overhead on both legs while compute scales) plus 4-wave
scheduling on 16 slots.
(2) 64-BUCKET + REPARTITION-AT-LOAD (lpa_prepared, the round-4 cell):
69.0/34.1 s/iter — repartitioning to the leg's slots restores the task
count (the prepared-PageRank cure) but `repartition(slots, "src")`
DESTROYS the artifact's per-bucket src-SORT, and LPA — unlike the
3-superstep PageRank probe — streams the persisted symmetric cache 12
times, so the cache's in-memory-columnar compressibility (the measured
round-4 hash-vid lesson: sorted, delta-compressible vids scan ~20%
faster) dominates: the repartitioned cache is SLOWER per-iter than the
4-wave zero-exchange one at 4×4 (34.1 vs 26.3 s) and slower than
everything end-to-end. PageRank tolerated the same repartition because
its loop re-sorts edges once at setup; LPA's prepared path deliberately
skips that re-sort (it is exactly the tail the artifact pre-pays).
(3) SLOTS-BUCKETED ARTIFACT (lpa_prepared_slots — the shipped
deployment rule for LPA: bucket the undirected artifact at the target
cluster's task slots): zero-exchange load AND slots-matched loop AND
per-bucket sort preserved — 46.9/13.9 s/iter, steady-state eff 0.845
(ABOVE the 0.8 target, and 1.18/1.20× the unprepared loop's own
per-superstep speed at the two legs). Whole-run, the query session is
709/238 s vs unprepared 1189/384 s — prepared now strictly beats
unprepared end-to-end at BOTH legs (1.66×/1.58×), and the prepare-once
cost (395/116 s) pays for itself within a SINGLE query run at both
legs (vs 471/140 s saved per run). Whole-run scaling of the query
session is 0.745; the gap to the 0.845 steady-state is fully accounted
by two already-root-caused one-box terms: superstep 1 carries the
parallelism-invariant codegen/JIT warmup (104.5 vs 48.8 s, 2.1× — a
fixed ~30 s on both legs), and the late label-stable supersteps
degenerate to streaming the 131M-row symmetric cache over the shared
DRAM bus (3.2×, the same memory-bandwidth ceiling measured for
unprepared LPA above — a real 4-node cluster brings 4× the aggregate
bandwidth). The early churn-heavy supersteps scale at 0.81-1.0 eff
(iter 2: 89.4→27.4 s; iter 3: 79.4→19.9 s). Where the 64-bucket
PageRank rule was "size buckets for the largest target cluster", LPA's
measured rule is stricter — slots-matched buckets, because the
12-superstep cache stream makes both the wave arithmetic AND the
layout-compressibility penalty recur per superstep instead of
amortizing.

SCC (round 5 — rows scc_* in scaling.json; FW-Trim coloring with
pointer-jumped forward and backward fixpoints). Two findings:
(a) SPARK-4 CHECKPOINT-STATS BLOWUP, found and fixed: Spark 4's
Dataset.localCheckpoint carries the origin plan's ESTIMATED statistics
onto the LogicalRDD, and the size-only estimator multiplies child sizes
at every inner join — so a checkpointed SELF-join chain (the pointer
jump) SQUARES the carried sizeInBytes every superstep. The bit-length
doubles per superstep (measured 11→609 bits in 6 steps with a probe);
past ~20 supersteps every stats/planning call multiplies million-digit
BigIntegers and the driver burns MINUTES per superstep inside
BigInteger.multiplyToomCook3 (caught by jstack, 600+ s on one thread) —
a deep-graph SCC run looked hung while executors idled. The fix
(operators/scc.py): persist each iterate and let the already-present
convergence count materialize it BEFORE checkpointing — a materialized
InMemoryRelation reports its REAL accumulated size, so the carried
stats stay flat; zero extra jobs, iterate caches dropped as soon as
their checkpoint materializes. This failure mode is generic to any
iterative self-join on Spark 4 (PageRank/LPA/CC escape it because their
per-superstep joins multiply the iterate by a CONSTANT-stats cached
edge table — linear bit growth — not by itself).
(b) THE FIXPOINTS ARE REACHABILITY-DEPTH-BOUND, and the pointer jump
only compresses the easy phase: the jump composes reach through the
chain of successive record minima, which is ~ln n links long on random
vid orderings, after which the tail crawls one edge-hop per sub-step
along the graph's deep chains (sf1 gauge: mass convergence by sub-step
~60, then ~100 vertices/sub-step changing until ~200). Sub-steps are
therefore batched: substeps_per_sync=4 propagation steps chain lazily
into each materialized, convergence-checked job, paying the
convergence-check join and the job/stage floor once per batch (colors
only decrease, so no-change-across-a-batch IS the one-step fixpoint;
cost is ≤3 redundant tail sub-steps). A true sub-step-count cure would
be path contraction of in/out-degree-1 chains (pointer doubling on the
successor function) — noted as the next scale lever, not built this
round.

BATCHED PPR (round 4 — diagnostic cells, NOT a headline ledger row: PPR
is an engine extension, and at sf16 the right-sized problem for it no
longer exists — see below; raw rows ppr_*/ppr_dense_* in scaling.json).
Three measured cells at sf16, 3 supersteps, whole run:
(1) NO cone, 2k md5-sampled seeds: wall 159→76 s, eff 0.52 — with a
tiny (seed,id) state the superstep is the purest form of the one-box
DRAM ceiling: streaming the full 65M-row transition cache with almost
no scalable compute term attached.
(2) CONE PRUNING (shipped as the ppr_batch default after this
measurement): restricting the cache to the seeds' (iterations−1)-hop
out-cone — provably rank-identical, ~3% of edges kept at this seed
density — cut the 1×4 wall 159→72 s. The 4×4 leg (86 s) then runs
SLOWER than 1×4: the remaining job is too small for 16 slots (cone
passes + barriers + small shuffles are the wall, not throughput).
(3) 20k seeds (10×): wall 108→75 s, eff 0.36 — still floor-dominated;
the fixed term is the (iterations−1) cone semi-join streams over the
shared-DRAM edge cache plus ~20 stage barriers.
The conclusion is the operator working as intended, not a scaling
defect: cone pruning shrank a 2k-seed batch to a sub-2-minute job at
sf16, below the scale where a 4× cluster pays for itself; the
throughput-bound regime (seed batches whose cones cover the graph)
degenerates to the PageRank superstep, whose scaling the headline rows
already evidence (0.83).

PREPARED GRAPH (round 3, "prepare once, query many"): the
query-independent build — vid encode joins, out-degree weights,
dangling flags, repartition-by-src + per-partition sort — is identical
for every query over a corpus and dominates single-run setup. The
`prepared` rows run the SAME relational loop from
`plans/prepared_graph.py` state: edges live in a bucketed,
per-bucket-sorted table whose scan reports HashPartitioning(src, n), so
the per-query setup collapses to a scan+persist (zero edge-side
exchange — physical-plan evidence in docs/PLANS.md §4) and the one-time
prepare cost is reported separately (`prepare_once_sec` in
scaling.json). Ranks are bitwise-identical to the unprepared path
(pytest-pinned).

Prepared BUCKET SIZING + the steady-state gap ROOT-CAUSED (round-4
controlled A/Bs at sf16, rows relational_fixed_* / prepared_repart_* in
scaling.json): the prepared loop's 0.73 N→4N efficiency vs the in-run
loop's 0.80 is NOT a property of the bucketed layout. Three cells pin
it: (1) the plain in-run build with its loop PINNED to the table's 64
partitions at both legs — no bucketed table anywhere — reproduces most
of the gap (eff 0.753): a fixed-bucket table runs 64 tasks/stage on
both legs, so constant per-task overhead is the same absolute cost on
both legs while the compute term scales, i.e. the overhead FRACTION at
4×4 is 4× the 1×4 one by construction. (2) Loading the 64-bucket table
and repartitioning to the leg's task slots (pagerank's buckets≠nparts
branch) recovers in-run efficiency (0.772 vs 0.797, within single-run
noise) while keeping the prepared value claim: setup 37 s vs the in-run
377 s (10×; the zero-exchange path's 15 s remains the floor). (3) The
64-bucket zero-exchange path still posts the FASTEST absolute superstep
on both legs (31.9/10.9 s/iter vs in-run 32.5/10.2) — the 'gap' is a
ratio artifact of fixed task count, not a slowdown. Deployment rule
that falls out: size buckets for the LARGEST target cluster (slots-sized
buckets additionally measured 0.67 — zero straggler slack); a smaller
cluster querying the same table either eats the wave arithmetic (still
the fastest absolute here) or repartitions at load for one extra
shuffle. The prepared value claim is SETUP amortization, not superstep
speedup: per-query setup 15 s vs 413 s in-run at 1×4 (27×), end-to-end
single-query wall 410 s vs 807 s, one-time prepare 433 s shared by every
subsequent query and session.

ARROW BATCH SWEEP (round-2 verdict item 5 — the CSR-vs-relational gap
at 1×4): `spark.sql.execution.arrow.maxRecordsPerBatch` swept over two
decades at sf16 1×4 (BENCH/arrow_sweep.json): 10k → 59.0 s/iter,
100k → 59.2, 500k → 67.0, 1M → 61.5. The curve is FLAT at the default
and degrades for bigger batches (peak memory + lost bincount cache
locality), so the engine default stays 10k and the 1×4 gap
(CSR 56-59 s/iter vs relational 32.5 s/iter at sf16) is a measured
CEILING of the JVM↔Python boundary itself — per-superstep Arrow
serialization of the edge blocks plus the Python kernel invocation —
not a framing-overhead artifact any batch size recovers. The CSR path
remains the right choice where its 4×4 leg's superlinear scaling
(per-executor heap relief, eff 1.24) dominates, and the relational path
remains the default.

CC whole-run efficiency is size-dependent in the way Amdahl predicts:
0.719 at sf16 (75 s whole run at 4×4 — estimate jobs, driver tail and
codegen warmup are parallelism-invariant ~12 s) vs 0.82 at sf32 (2× the
data per barrier). The per-phase split in scaling_cc_sf16_pin1M.json /
scaling.json shows the scalable terms (rounds, setup, peel) at 3.2-4.7×;
a 100 TB run amortizes the fixed floors further. Both pins produce
identical labels and component counts (822,647 at sf16 / 1,643,521 at
sf32, verified leg-to-leg).

Raw JSON: BENCH/scaling.json, BENCH/scaling_cc_sf16_pin1M.json,
BENCH/arrow_sweep.json, BENCH/local8.json, BENCH/local32.json.
""")
    with open(os.path.join(BENCH, "scaling.json"), "w") as f:
        json.dump({f"{k[0]}_{k[1]}": v for k, v in scale.items()}, f, indent=2)
    if bench:
        with open(os.path.join(BENCH, "local8.json"), "w") as f:
            json.dump(bench[8], f, indent=2)
        with open(os.path.join(BENCH, "local32.json"), "w") as f:
            json.dump(bench[32], f, indent=2)
    print("efficiency: " + " ".join(f"{op}={eff(op):.2f}" for op in all_ops) + " → BENCH/BASELINE.md")


if __name__ == "__main__":
    main()
