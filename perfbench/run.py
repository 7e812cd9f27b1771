#!/usr/bin/env python3
"""spark-kg benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload parse_crawl --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads (see perfbench/README.md):

* ``parse_crawl`` — repeated passes of ``parse_pages`` -> ``triples_of``
  -> count over one generated Common-Crawl-style corpus;
* ``kg_query`` — a closed loop, one client, running a fixed SPARQL mix
  over a KG that set-up writes with ``GraphWriter``.

``--trace 0`` measures end-to-end metrics. ``--trace 1`` runs the same
loop with spans around every call into the program, then the layer
sweep (``sweep.py``), and reports per-layer metrics. Every output is
checked against the generator's own record. The last line of standard
output is ``{"correct", "attempted", "failed", "metrics"}``; the full
record of the run goes to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

PROC_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import host  # noqa: E402
import queries  # noqa: E402
from spans import Tracer  # noqa: E402

# Sizes. At local[2] on a 4-vCPU host a parse pass is ~1.6 s and a query
# 0.2-0.6 s, so a 15 s run holds ~10 passes or ~45 queries.
CRAWL_PAGES = 3000
KG_ENTITIES = 3000
URL_BUCKETS = 2
# set-ups per untraced run; setup_s is their median
SETUPS = 3
DRIVER_MEMORY = "1g"

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "peak_rss_mb": "MB"}


class Bench:
    """State of one run: session, tracer, host log, op counters."""

    def __init__(self, args: argparse.Namespace, work: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work = work
        self.cores = max(1, host.nproc() // 2)
        self.tracer = Tracer(args.workload, self.traced)
        self.host = host.HostLog()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}
        self.setup_s: list[float] = []
        self.samples: list[float] = []
        self.info: dict = {}
        self.layers: dict = {}
        self.rss = host.RssSampler()
        self.proc_start = PROC_START
        self.crawl_pages = CRAWL_PAGES
        self.kg_entities = KG_ENTITIES

    # -- session ------------------------------------------------------------
    def session(self):
        from parser_rdf_spark.session import build_session

        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        with self.tracer.span("session.build_session"):
            spark = build_session(
                app_name="perfbench",
                master=f"local[{self.cores}]",
                shuffle_partitions=2 * self.cores,
                extra_conf={
                    "spark.driver.memory": DRIVER_MEMORY,
                    "spark.local.dir": local,
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                    # a fixed-size heap: RSS does not depend on when G1 grows it
                    "spark.driver.extraJavaOptions":
                        f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tempfile.gettempdir()}",
                },
            )
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        self.tracer.sc = spark.sparkContext
        return spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.tracer.sc = None
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, then the JVM, then wait for every process this run
        started (the JVM and its Python workers) to end."""
        self.stop_session()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 — the JVM may already be gone
                pass
            if proc is not None:
                proc.terminate()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None
        _reap_descendants()

    # -- inputs -------------------------------------------------------------
    def write_pages(self, corpus: gen.Corpus, name: str):
        """Write the pages as one Parquet file per core and read them back.
        Spark sizes scan splits at total bytes / cores, so this layout gives
        one scan task per core: one full wave, no straggler wave."""
        import pyarrow.parquet as pq

        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        n = corpus.pages.num_rows
        for i in range(self.cores):
            lo, hi = n * i // self.cores, n * (i + 1) // self.cores
            pq.write_table(corpus.pages.slice(lo, hi - lo),
                           os.path.join(path, f"part-{i:04d}.parquet"))
        return self.spark.read.parquet(path)

    # -- operations ---------------------------------------------------------
    def op(self, name: str, fn, sample: int | None = None) -> bool:
        """Run one checked operation; ``fn`` returns True when its output
        matches the generator's record. A raise counts as a failure."""
        self.attempted += 1
        try:
            with self.tracer.span(name, sample):
                ok = bool(fn())
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            self.failed += 1
            print(f"perfbench: output check failed: {name}", file=sys.stderr)
        return ok

    def loop(self, ops: list[tuple[str, object]], seconds: float) -> None:
        """Closed loop over ``ops`` (cycled in order) for ``seconds``;
        every op's wall time is a sample."""
        start = time.perf_counter()
        i = 0
        self.rss.active.set()
        while time.perf_counter() - start < seconds:
            name, fn = ops[i % len(ops)]
            t = time.perf_counter()
            self.op(name, fn, sample=len(self.samples))
            self.samples.append(time.perf_counter() - t)
            self.host.probe()
            i += 1
        self.rss.active.clear()
        self.info["loop_s"] = self.info.get("loop_s", 0.0) + time.perf_counter() - start

    def run_segments(self, build, ops_of) -> object:
        """Set up, then time a loop segment; repeated ``SETUPS`` times, so
        the timed samples spread over the whole run instead of one window
        that a slow-host episode can cover. A traced run sets up once."""
        setups = 1 if self.traced else SETUPS
        for r in range(setups):
            if r:
                self.stop_session()
            state = self.timed_setup(r, build)
            self.loop(ops_of(state), self.seconds / setups)
        return state

    def build_kg(self, corpus: gen.Corpus, name: str):
        """Write the KG with GraphWriter; return the writer and the plain and
        term-encoded query relations over its tables."""
        from parser_rdf_spark.bgp import triples_spo
        from parser_rdf_spark.materialize import GraphWriter

        pages = self.write_pages(corpus, f"{name}-pages")
        root = os.path.join(self.work, name)
        shutil.rmtree(root, ignore_errors=True)
        w = GraphWriter(root, url_buckets=URL_BUCKETS)
        with self.tracer.span("materialize.run"):
            w.run(self.spark, pages, name)
        rels = {False: triples_spo(w.triples(self.spark)), True: w.terms(self.spark)}
        return w, rels

    def timed_setup(self, r: int, build) -> object:
        """Set-up ``r``: the first counts from process start (interpreter,
        imports, JVM); later ones start a fresh SparkContext."""
        t0 = PROC_START if r == 0 else time.perf_counter()
        with self.tracer.span("setup", sample=r):
            state = build()
        self.setup_s.append(time.perf_counter() - t0)
        return state


# -- workloads ---------------------------------------------------------------

def parse_crawl(b: Bench) -> None:
    from parser_rdf_spark.parse import parse_pages, triples_of

    def per_doc(corpus: gen.Corpus, pages) -> bool:
        """Every document's triple count, error flag and format."""
        rows = parse_pages(pages).select("doc_url", "n_triples", "error_stage", "format").collect()
        got = {r["doc_url"]: r for r in rows}
        bad = len(rows) != len(corpus.kinds)
        for url, kind, n, err in zip(corpus.pages.column("url").to_pylist(), corpus.kinds,
                                     corpus.n_triples, corpus.is_error):
            r = got.get(url)
            bad += (r is None or (r["n_triples"] or 0) != n or (r["error_stage"] is not None) != err
                    or (not err and r["format"] != gen.EXPECTED_FORMAT[kind]))
        return bad == 0

    def build():
        b.session()
        corpus = gen.crawl_corpus(b.seed, CRAWL_PAGES)
        pages = b.write_pages(corpus, "crawl")
        # two warm-up passes (the first pass is 34-108% slower): the timed
        # operation, then the per-document check of the whole parse output
        b.op("parse.pass", lambda: triples_of(parse_pages(pages)).count() == corpus.total_triples)
        b.op("parse.per_doc", lambda: per_doc(corpus, pages))
        return corpus, pages

    corpus, pages = b.run_segments(build, lambda st: [(
        "parse.pass", lambda: triples_of(parse_pages(st[1])).count() == st[0].total_triples)])
    b.info["triples_per_pass"] = corpus.total_triples
    b.info["triples_per_s"] = corpus.total_triples / statistics.median(b.samples)


def query_op(rels: dict, shape: str, want: dict, tracer: Tracer):
    from parser_rdf_spark.sparql import sparql_query

    text, term_mode = queries.SHAPES[shape]

    def run() -> bool:
        with tracer.span(f"sparql.plan.{shape}"):
            df = sparql_query(rels[term_mode], text, term_mode=term_mode)
        with tracer.span(f"sparql.exec.{shape}"):
            rows = df.collect()
        return queries.check(shape, rows, want[shape])

    return run


def kg_query(b: Bench) -> None:
    def build():
        b.session()
        corpus = gen.kg_corpus(b.seed, KG_ENTITIES)
        want = queries.expected(corpus.triples)
        _, rels = b.build_kg(corpus, "kg")
        ops = [(f"sparql.{s}", query_op(rels, s, want, b.tracer)) for s in queries.SHAPES]
        for name, fn in ops:  # warm-up: one round of every shape
            b.op(name, fn)
        return corpus, ops

    corpus, _ = b.run_segments(build, lambda st: st[1])
    b.info["kg_triples"] = len(corpus.triples)
    b.info["query_p90_ms"] = percentile(b.samples, 90) * 1000.0


WORKLOADS = {"parse_crawl": parse_crawl, "kg_query": kg_query}


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# -- process hygiene -----------------------------------------------------------

def _reap_descendants(timeout_s: float = 20.0) -> None:
    """Wait for every descendant process to end; kill what outlives the
    timeout (a Python worker whose JVM is gone exits on its own)."""
    deadline = time.time() + timeout_s
    while True:
        kids = host.process_children()
        alive, todo = [], list(kids.get(os.getpid(), ()))
        while todo:
            pid = todo.pop()
            alive.append(pid)
            todo.extend(kids.get(pid, ()))
        alive = [p for p in alive if _running(p)]
        if not alive:
            return
        if time.time() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 5
        for pid in alive:
            try:
                os.waitpid(pid, os.WNOHANG)  # reap direct children
            except ChildProcessError:
                pass
        time.sleep(0.2)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# -- main ------------------------------------------------------------------------

def _metrics(b: Bench) -> dict:
    if b.traced:
        import sweep

        values = sweep.per_layer(b)
    else:
        values = {
            "setup_s": (statistics.median(b.setup_s), END_TO_END["setup_s"]),
            "op_p50_ms": (statistics.median(b.samples) * 1000.0, END_TO_END["op_p50_ms"]),
            "peak_rss_mb": (b.rss.peak_mb, END_TO_END["peak_rss_mb"]),
        }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops the JVM and removes its temp files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "parser_rdf_spark", "parse.py")):
        print("perfbench: parser_rdf_spark/ not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    stamp = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.time_ns()}"
    work = os.path.join(ROOT, ".perfbench", "tmp", stamp)
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    # every temp file of this process, the JVM and the workers stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None

    b = Bench(args, work)
    try:
        with b.rss:
            WORKLOADS[args.workload](b)
            if b.traced:
                import sweep

                sweep.run(b)
        b.host.close()
        metrics = _metrics(b)
    finally:
        b.shutdown()
        shutil.rmtree(work, ignore_errors=True)

    correct = b.failed == 0 and all(b.checks.values())
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": b.cores, "correct": correct,
        "attempted": b.attempted, "failed": b.failed,
        "failed_ops_share": b.failed / b.attempted if b.attempted else None,
        "checks": b.checks, "setup_s": b.setup_s, "samples_s": b.samples,
        "n_samples": len(b.samples), "host": b.host.as_dict(), "info": b.info,
        "metrics": metrics,
    }
    with open(os.path.join(results, stamp + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if b.traced:
        b.tracer.write(os.path.join(results, stamp + ".spans.jsonl"),
                       os.path.join(results, stamp + ".layers.json"))
    print(f"perfbench: {len(b.samples)} samples, host {json.dumps(b.host.as_dict())}, "
          f"record .perfbench/results/{stamp}.json")
    print(json.dumps({"correct": correct, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
