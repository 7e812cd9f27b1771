"""No-Spark control experiment for the single-box DRAM wall.

BENCH/BASELINE.md attributes the 8→32 scaling shortfall to shared memory
bandwidth, not the engine: this script RUNS that claim. It executes the
exact per-document work of the fused parse stage (HTML→text, detect,
validate, tokenize and the fallback retries: `parse.parse_page`, the
function `parse._parse_batch` calls per page) under
bare ``multiprocessing`` — no Spark, no JVM, no Arrow — at 8 and 32
taskset-pinned processes over the same bench corpus, and writes the
measured efficiency to ``BENCH/scaling_control.json``.

If the no-Spark efficiency at 8→32 lands in the same range as the Spark
job's, the ceiling is the machine (one memory domain shared by all
cores), not the engine's scheduling or shuffle: on a real cluster, 4N
executors arrive with 4× the DRAM channels and the wall does not
transfer.

Usage: python scripts/scaling_control.py [n_docs]  (default 400000;
corpus parquet is shared with scripts/scaling_bench.py and synthesized on
first use)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Child process: loads the corpus once, then forks a pool whose workers
# inherit the rows copy-on-write; each measured run maps disjoint ranges.
_CHILD = """
import json, multiprocessing as mp, sys, time
sys.path.insert(0, {repo!r})

import pyarrow.parquet as pq

procs = int(sys.argv[1])
t = pq.read_table(sys.argv[2], columns=["url", "html"])
URLS = t.column("url").to_pylist()
HTMLS = t.column("html").to_pylist()
N = len(URLS)


def parse_range(bounds):
    # parse.parse_page is the per-document body of parse._parse_batch;
    # only the bnode scoping and Arrow assembly are left out (we only
    # count triples here)
    from parser_rdf_spark.parse import parse_page

    lo, hi = bounds
    return sum(len(parse_page(None, HTMLS[i]).triples) for i in range(lo, hi))


if __name__ == "__main__":
    mp.set_start_method("fork")
    shards = procs * 4  # oversplit so stragglers level out
    step = (N + shards - 1) // shards
    bounds = [(i, min(i + step, N)) for i in range(0, N, step)]
    with mp.Pool(procs) as pool:
        n_triples = sum(pool.map(parse_range, bounds))  # warmup (imports)
        walls = []
        for _ in range(3):
            t0 = time.time()
            n_triples = sum(pool.map(parse_range, bounds))
            walls.append(time.time() - t0)
    print("RESULT " + json.dumps({{"procs": procs, "wall": min(walls),
                                   "walls": walls, "n_triples": n_triples}}))
"""


def run_level(procs: int, pages_path: str) -> dict:
    code = _CHILD.format(repo=REPO)
    out = subprocess.run(
        ["taskset", "-c", f"0-{procs - 1}", sys.executable, "-c", code,
         str(procs), pages_path],
        capture_output=True, text=True, timeout=1800,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no result at {procs} procs: {out.stdout[-2000:]} {out.stderr[-2000:]}")


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 400000
    pages_path = f"/tmp/spark_graft_bench/pages_n{n_docs}_s42_v2"
    if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        code = (
            f"import sys; sys.path.insert(0, {REPO!r})\n"
            "from parser_rdf_spark.session import build_session\n"
            "from parser_rdf_spark.fixtures import synth_pages\n"
            "s = build_session(master='local[16]'); s.sparkContext.setLogLevel('ERROR')\n"
            f"synth_pages(s, {n_docs}, partitions=64).write.mode('overwrite').parquet({pages_path!r})\n"
            "s.stop()\n"
        )
        subprocess.run([sys.executable, "-c", code], check=True, timeout=600)

    low = run_level(8, pages_path)
    high = run_level(32, pages_path)
    assert low["n_triples"] == high["n_triples"], (low["n_triples"], high["n_triples"])
    eff = low["wall"] / (high["wall"] * 4)
    result = {
        "job": "bare multiprocessing, per-document fused parse (no Spark)",
        "n_docs": n_docs,
        "n_triples": low["n_triples"],
        "procs_low": 8, "wall_low": round(low["wall"], 3),
        "tps_low": round(low["n_triples"] / low["wall"]),
        "procs_high": 32, "wall_high": round(high["wall"], 3),
        "tps_high": round(high["n_triples"] / high["wall"]),
        "efficiency_8_32": round(eff, 3),
        "walls_low": [round(w, 3) for w in low["walls"]],
        "walls_high": [round(w, 3) for w in high["walls"]],
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "scaling_control.json"), "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
