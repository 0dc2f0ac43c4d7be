"""Arrow batch-size sweep for the CSR pandas-UDF superstep (round-2
verdict item 5: close or explain the CSR-vs-relational gap at 1×4).

The CSR scatter crosses the JVM↔Python Arrow boundary once per superstep;
`spark.sql.execution.arrow.maxRecordsPerBatch` (default 10k) sets the
rows-per-batch of that transfer AND the CSR block size the scatter kernel
factorizes over. Small batches pay per-batch overhead (Arrow framing,
pandas.factorize setup, one partial-row emission per distinct dst per
batch → a fatter downstream groupBy); huge batches cost peak memory and
lose the bincount cache locality. This sweep measures sec/superstep at
1×4 executors on the sf16 link graph across batch sizes and writes
BENCH/arrow_sweep.json; the pick feeds the engine default in session.py.

Usage: python tools/arrow_sweep.py [--sf 16.0] [--iters 6] [--batches 10000,100000,500000,1000000]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SNIPPET = r"""
import json, os, sys, time
sys.path.insert(0, os.getcwd())  # run as a subprocess with cwd=REPO
from pyspark.sql import SparkSession
from pagerank_project_spark.config import PageRankConfig
from pagerank_project_spark.datagen import ensure_fixture
from pagerank_project_spark.operators.extract import vertices_from_files

sf = float(sys.argv[1]); iters = int(sys.argv[2]); batch = int(sys.argv[3])
import atexit, shutil, tempfile
# UNIQUE tmpfs dir per run: a fixed path + rmtree deletes the live worker
# dirs of any concurrently-running local-cluster job (observed: both jobs'
# executors die with rejected-RPC noise)
_ldir = tempfile.mkdtemp(prefix="spark-local-", dir="/dev/shm")
atexit.register(lambda: shutil.rmtree(_ldir, ignore_errors=True))
spark = (SparkSession.builder.master("local-cluster[1,4,13312]")
         .appName(f"arrow-sweep-{batch}")
         # tmpfs shuffle dir, same as tools/bench_scaling.py, so the sweep's
         # sec/iter is directly comparable to BENCH/scaling_sf16.json csr_1
         .config("spark.local.dir", _ldir)
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.executor.memory", "12g")
         .config("spark.driver.memory", "8g")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch))
         .config("spark.ui.enabled", "false")
         .config("spark.executorEnv.PYTHONPATH", os.getcwd())
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
fix = ensure_fixture(sf)
edges = spark.read.parquet(f"{fix}/intended_edges").select("src", "dst").repartition(4).persist()
n_edges = edges.count()
files = spark.read.parquet(f"{fix}/source_table/data")
verts = vertices_from_files(files).persist(); verts.count()

from pagerank_project_spark.operators.pagerank import pagerank
cfg = PageRankConfig(mode="standard", epsilon=0.0, max_iterations=iters,
                     convergence="l1_delta", strategy="csr")
t0 = time.time()
res = pagerank(spark, edges, vertices=verts, cfg=cfg)
dt = time.time() - t0
steady = sorted(res.iter_secs[2:])
med = steady[len(steady) // 2]
print(json.dumps({"batch": batch, "n_edges": n_edges, "wall_sec": round(dt, 2),
                  "iter_secs": res.iter_secs, "sec_per_iter": med,
                  "edges_per_sec_per_superstep": round(n_edges / med, 1)}))
"""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=16.0)
    ap.add_argument("--iters", type=int, default=6)
    ap.add_argument("--batches", default="10000,100000,500000,1000000")
    args = ap.parse_args()

    results = []
    for batch in (int(b) for b in args.batches.split(",")):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, "-c", SNIPPET, str(args.sf), str(args.iters), str(batch)],
            capture_output=True, text=True, cwd=REPO, timeout=5400,
        )
        lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
        if not lines:
            print(f"batch={batch} FAILED: {out.stderr[-1500:]}", flush=True)
            continue
        r = json.loads(lines[-1])
        results.append(r)
        print(f"batch={batch:>8,}: {r['sec_per_iter']}s/iter "
              f"({r['edges_per_sec_per_superstep']:,.0f} edges/s) "
              f"[{time.time() - t0:.0f}s total]", flush=True)

    with open(os.path.join(REPO, "BENCH", "arrow_sweep.json"), "w") as f:
        json.dump(results, f, indent=2)
    print("→ BENCH/arrow_sweep.json")


if __name__ == "__main__":
    main()
