"""Seeded, oracle-checked benchmark of the aarhus_spark engine.

    python3 perfbench/run.py --workload ingest|query_interactive \
        --seed N --seconds S --trace 0|1

Run from the repository root. Each run generates a Common-Crawl-style
corpus from ``--seed`` with ``gen_pages_spark``, writes it to parquet,
and gives the engine only that pages table (through
``sources.io.read_pages``) and query frames. One caller issues one
operation at a time (closed loop); ingest runs on ``local[nproc]``,
the query workload on ``local[nproc/2]``. Every timed
result is collected and checked against ``reference.py``.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``metrics`` holds
the end-to-end metrics with ``--trace 0`` and the per-layer metrics
with ``--trace 1``. A detail file with every operation's record goes
to ``perfbench/_work/results/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

T_START = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
WORK_ROOT = os.path.join(HERE, "_work")

WORKLOADS = ("ingest", "query_interactive")
N_PAGES = 3000
# one interactive round: three single-query matches and one of each
# other kind, in a seeded order; whole rounds keep the mix fixed
ROUND = ("match", "match", "match", "phrase", "facets", "highlight", "batch")
QUERY_OPS = ("batch", "match", "phrase", "facets", "highlight")
OPS = ("build", "delta", "compact") + QUERY_OPS
MIN_ROUNDS = 2           # rounds measured even when a round outlasts --seconds
WARM_ROUNDS = 1          # unmeasured rounds of the timed mix before timing
HELD_OUT = 7919          # warm-up and probe inputs use seed + HELD_OUT
CACHE_FILES = 8          # reference pickles kept between runs

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
    "index_bytes_per_text_byte": "ratio",
}
# per-op fields reported with --trace 1, and their units
OP_FIELDS = {
    "wall_s": "s", "jobs": "count", "tasks": "count", "driver_s": "s",
    "unattributed_frac": "ratio", "py_bytes_sent": "B", "py_time_s": "s",
    "scan_bytes": "B", "shuffle_write_bytes": "B", "executor_cpu_s": "s",
}
QUERY_FIELDS = {"plan_s": "s", "exec_s": "s"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def machine_stamp() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"nproc": len(os.sched_getaffinity(0)),
            "ram_gib": round(mem_kb / (1 << 20), 1),
            "loadavg_1m": os.getloadavg()[0]}


class Bench:
    """One run: session, corpus, reference, operations and checks."""

    def __init__(self, args, stamp: dict):
        self.args = args
        self.stamp = stamp
        # Spark task slots. Ingest is parallel Python-UDF throughput and
        # gets every core. The single caller's requests are latency-bound
        # and get half: with every core a task slot, the planner, its JIT
        # and GC threads and the calling process competed with the tasks,
        # and the first timed round ran up to 40% slower than the second.
        stamp["slots"] = (stamp["nproc"] if args.workload == "ingest"
                          else max(1, stamp["nproc"] // 2))
        self.work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.failures: list[str] = []
        self.failed_ops: set[str] = set()
        self.pending: list[tuple] = []
        self.attempted = 0
        self.oracle_s = 0.0
        self.index_for_layers = None
        self.spark = None
        self.phases: dict[str, float] = {}

    def phase(self, name: str) -> None:
        """Mark the end of a set-up phase (seconds since process start)."""
        self.phases[name] = time.time() - T_START

    # -- set-up ------------------------------------------------------------

    def start(self) -> None:
        """Start the Spark session; the reference is built meanwhile on
        a second thread, and only the time spent waiting for it after
        the session is up counts as oracle time."""
        from concurrent.futures import ThreadPoolExecutor
        from reference import load_reference
        cache = os.path.join(WORK_ROOT, "cache")
        with ThreadPoolExecutor(max_workers=1) as pool:
            ref = pool.submit(load_reference, cache, N_PAGES, self.args.seed)
            self._start_session()
            t0 = time.time()
            self.ref = ref.result()
            self.oracle_s += time.time() - t0
        _trim_cache(cache)

    def _start_session(self) -> None:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        # Python workers (started by the JVM, so they inherit this) keep
        # freed memory instead of returning it to the kernel, as the
        # repository's other benchmarks do: pages fresh from the kernel
        # cost a first-touch fault each
        os.environ.update(MALLOC_TRIM_THRESHOLD_="-1", MALLOC_MMAP_THRESHOLD_="1073741824",
                          MALLOC_TOP_PAD_="134217728")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        from aarhus_spark.session import get_spark
        heap_mb = min(2048, int(self.stamp["ram_gib"] * 1024) // 4)
        # the whole heap is committed and touched at JVM start, so its
        # first-touch page faults land in set-up and not in timed calls
        self.spark = get_spark(
            "perfbench", master=f"local[{self.stamp['slots']}]",
            extra={"spark.driver.memory": f"{heap_mb}m",
                   "spark.driver.extraJavaOptions":
                       f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap_mb}m -XX:+AlwaysPreTouch",
                   "spark.local.dir": os.path.join(self.work, "spark-local"),
                   "spark.ui.showConsoleProgress": "false"})
        self.spark.sparkContext.setLogLevel("ERROR")
        self.phase("session")
        from tracer import SparkTracer, WallTracer
        self.tracer = SparkTracer(self.spark) if self.args.trace else WallTracer()

    def write_corpus(self) -> None:
        """Generate the seeded pages with ``gen_pages_spark`` and write
        them to parquet; the engine reads them back through
        ``read_pages``. The base pages are every url whose row id is not
        a multiple of HOLDOUT_MOD."""
        from pyspark.sql import functions as F
        from aarhus_spark.sources.fixtures import gen_pages_spark
        from aarhus_spark.sources.io import read_pages
        from reference import HOLDOUT_MOD
        path = os.path.join(self.work, "pages")
        gen_pages_spark(self.spark, N_PAGES, seed=self.args.seed,
                        partitions=self.stamp["slots"]).write.parquet(path)
        self.pages = read_pages(self.spark, path)
        row_id = F.element_at(F.split("url", "/"), -1).cast("long")
        self.base_pages = self.pages.filter(row_id % HOLDOUT_MOD != 0)
        self.phase("corpus")

    def write_docstore(self) -> None:
        """Stored (url, text) of each url's indexed version, the latest
        crawl, as a document store keeps it; highlight reads it."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        path = os.path.join(self.work, "docstore.parquet")
        pq.write_table(pa.Table.from_pandas(self.ref.docstore, preserve_index=False), path)
        self.docstore = self.spark.read.parquet(path)

    # -- operations --------------------------------------------------------

    def attempt(self, op_id: str, fn) -> None:
        """One counted operation; an exception counts as its failure."""
        self.attempted += 1
        try:
            fn()
        except Exception as e:  # a failed operation is reported, not fatal
            traceback.print_exc(file=sys.stderr)
            self.fail(op_id, f"{type(e).__name__}: {e}")

    def fail(self, op_id: str, problem: str | None) -> None:
        if problem is not None:
            self.failed_ops.add(op_id)
            self.failures.append(f"{op_id}: {problem}")

    def build(self, op_id: str, pages, out: str, oi) -> None:
        from aarhus_spark.operators.build import build_index
        with self.tracer.op("build") as rec:
            stats = build_index(self.spark, pages, out)
        rec["docs"] = stats["N"]
        rec.update(_stage_metrics(out, "build"))
        self.fail(op_id, _check_stats(stats, oi))

    def delta_and_compact(self, op_id: str, base_dir: str, tag: str) -> None:
        from aarhus_spark.operators.compact import compact_indexes
        from aarhus_spark.operators.incremental import build_delta
        delta_dir = os.path.join(self.work, f"{tag}-delta")
        comp_dir = os.path.join(self.work, f"{tag}-compact")
        with self.tracer.op("delta") as rec:
            d_stats = build_delta(self.spark, self.pages, base_dir, delta_dir)
        rec["docs"] = d_stats.get("N", 0)
        want = self.ref.full.n_docs - self.ref.base.n_docs
        if rec["docs"] != want:
            self.fail(op_id, f"delta N={rec['docs']}, oracle {want}")
        with self.tracer.op("compact") as rec:
            c_stats = compact_indexes(self.spark, [base_dir, delta_dir], comp_dir)
        rec["docs"] = c_stats["N"]
        rec.update(_stage_metrics(comp_dir, "compact"))
        self.fail(op_id, _check_stats(c_stats, self.ref.full))
        self.comp_dir = comp_dir

    def request(self, op_id: str, kind: str, index: str, oi,
                queries: list[tuple[int, str]], **rec_fields) -> None:
        """One query request, timed as plan (the call that returns the
        lazy frame, query frame included) plus exec (the collect). The
        rows are checked after the measured window."""
        import pandas as pd
        from aarhus_spark.operators.eslayer import search_facets, search_highlight
        from aarhus_spark.operators.search import search_phrase, search_topk
        from reference import FACET_BUCKETS
        qpdf = pd.DataFrame(queries, columns=["query_id", "qtext"])
        with self.tracer.op(kind, items=len(queries), **rec_fields) as rec:
            t0 = time.time()
            qdf = self.spark.createDataFrame(qpdf, "query_id long, qtext string")
            if kind in ("match", "batch"):
                df = search_topk(self.spark, index, qdf)
            elif kind == "phrase":
                df = search_phrase(self.spark, index, qdf)
            elif kind == "facets":
                df = search_facets(self.spark, index, qdf, n_buckets=FACET_BUCKETS)
            else:
                df = search_highlight(self.spark, index, qdf, self.docstore)
            t1 = time.time()
            rows = df.collect()
            rec["plan_s"] = t1 - t0
            rec["exec_s"] = time.time() - t1
        self.pending.append((op_id, kind, oi, queries, rows))

    def check_pending(self) -> None:
        t0 = time.time()
        for op_id, kind, oi, queries, rows in self.pending:
            for qid, qtext in queries:
                mine = [r for r in rows if r["query_id"] == qid]
                problem = _check_request(kind, oi, qtext, mine)
                if problem:
                    self.fail(op_id, f"{kind} query {qid} {qtext!r}: {problem}")
        self.pending = []
        self.oracle_s += time.time() - t0

    def requests(self, tag: str, index: str, oi, plan, **rec_fields) -> None:
        for i, (kind, queries) in enumerate(plan):
            op_id = f"{tag}-{i}-{kind}"
            self.attempt(op_id, lambda: self.request(op_id, kind, index, oi,
                                                     queries, **rec_fields))

    # -- workloads ---------------------------------------------------------

    def run_ingest(self) -> tuple[float, list[dict]]:
        """Set-up builds the base index once, unmeasured: it is the JVM's
        warm-up build and the index every cycle updates. A cycle is
        build_delta of the held-out pages onto the base, then
        compact_indexes of the two-dir chain."""
        base = os.path.join(self.work, "base")
        self.attempt("setup-build", lambda: self.build("setup-build", self.base_pages,
                                                       base, self.ref.base))
        self.phase("warmup")
        setup_s = time.time() - T_START - self.oracle_s

        ops = []
        t_win = time.time()
        while not ops or time.time() - t_win < self.args.seconds:
            tag = f"cycle{len(ops)}"
            n_rec = len(self.tracer.records)

            def cycle():
                self.delta_and_compact(tag, base, tag)
                self.probe(tag, self.comp_dir)

            self.attempt(tag, cycle)
            recs = [r for r in self.tracer.records[n_rec:]
                    if r["kind"] in ("delta", "compact")]
            ops.append({"kind": "cycle", "wall_s": sum(r["wall_s"] for r in recs),
                        "items": recs[-1]["docs"] if len(recs) == 2 else 0,
                        "complete": len(recs) == 2})
            for old in (f"{tag}-delta", f"cycle{len(ops) - 2}-compact"):
                shutil.rmtree(os.path.join(self.work, old), ignore_errors=True)
        self.index_for_layers = self.comp_dir
        self.text_bytes = self.ref.text_bytes
        if self.args.trace:
            self.write_docstore()
            self.requests("tour", self.comp_dir, self.ref.full,
                          hit_requests(self.ref.full, self.args.seed + HELD_OUT,
                                       {k: 1 for k in QUERY_OPS}))
        self.check_pending()
        return setup_s, [o for o in ops if o["complete"]]

    def probe(self, tag: str, index: str) -> None:
        """One 50-query search_topk on the compacted index; checked, not
        part of the cycle's time."""
        import pandas as pd
        from aarhus_spark.sources.fixtures import gen_queries
        pool = gen_queries(pd.DataFrame(), seed=self.args.seed + HELD_OUT)
        self.request(tag, "batch", index, self.ref.full,
                     list(zip(pool["query_id"].tolist(), pool["qtext"].tolist())),
                     probe=True)

    def run_query_interactive(self) -> tuple[float, list[dict]]:
        index = os.path.join(self.work, "index")
        oi = self.ref.base
        self.attempt("setup-build", lambda: self.build("setup-build", self.base_pages,
                                                       index, oi))
        self.phase("build")
        self.write_docstore()
        warmup = hit_requests(oi, self.args.seed + HELD_OUT,
                              {k: WARM_ROUNDS * ROUND.count(k) for k in QUERY_OPS})
        self.requests("warmup", index, oi, warmup, warmup=True)
        self.phase("warmup")
        setup_s = time.time() - T_START - self.oracle_s

        rounds = request_rounds(oi, self.args.seed)
        n_rec = len(self.tracer.records)
        t_win = time.time()
        done = 0
        while done < MIN_ROUNDS or time.time() - t_win < self.args.seconds:
            self.requests(f"round{done}", index, oi, next(rounds))
            done += 1
        ops = [{"kind": r["kind"], "wall_s": r["wall_s"], "items": r["items"]}
               for r in self.tracer.records[n_rec:] if "exec_s" in r]
        self.index_for_layers = index
        self.text_bytes = self.ref.base_text_bytes
        if self.args.trace:
            self.attempt("tour-ingest", lambda: self.delta_and_compact("tour-ingest",
                                                                       index, "tour"))
        self.check_pending()
        return setup_s, ops


def request_rounds(oi, seed: int):
    """Endless rounds of ROUND in seeded order, one list per round.
    match, facets and highlight draw one query of the 50-query FIXTURES
    mix; batch sends the whole mix; phrase takes an adjacent token pair
    from a seeded document, alternating a random position (head-heavy)
    with the document's rarest token (tail)."""
    import numpy as np
    import pandas as pd
    from aarhus_spark.sources.fixtures import gen_queries
    rng = np.random.default_rng(seed)
    pool = gen_queries(pd.DataFrame(), seed=seed)
    pool = list(zip(pool["query_id"].tolist(), pool["qtext"].tolist()))
    n_phrase = 0
    while True:
        out = []
        for kind in rng.permutation(ROUND):
            kind = str(kind)
            if kind == "batch":
                out.append((kind, pool))
            elif kind == "phrase":
                toks: list[str] = []
                while len(toks) < 2:
                    toks = oi.tokens[int(rng.integers(oi.n_docs))]
                if n_phrase % 2 == 0:
                    p = int(rng.integers(len(toks) - 1))
                else:
                    p = min(range(len(toks) - 1), key=lambda j: (oi.df[toks[j]], j))
                n_phrase += 1
                out.append((kind, [(0, f"{toks[p]} {toks[p + 1]}")]))
            else:
                out.append((kind, [pool[int(rng.integers(len(pool)))]]))
        yield out


def hit_requests(oi, seed: int, counts: dict[str, int]) -> list[tuple[str, list]]:
    """``counts[kind]`` requests of each kind, in seeded round order,
    each single query with at least TOP_K hits so that it runs the
    whole query path: the warm-up before timing, and the tour of query
    kinds in a traced ingest run."""
    from aarhus_spark.config import TOP_K
    from aarhus_spark.oracle import search
    left = dict(counts)
    out = []
    rounds = request_rounds(oi, seed)
    while any(left.values()):
        for kind, queries in next(rounds):
            if left[kind] and (kind in ("batch", "phrase") or all(
                    len(search(oi, q, k=TOP_K)) == TOP_K for _, q in queries)):
                left[kind] -= 1
                out.append((kind, queries))
    return out


def _check_stats(stats: dict, oi) -> str | None:
    from reference import check_stats
    return check_stats(stats, oi)


def _check_request(kind: str, oi, qtext: str, rows) -> str | None:
    import reference as R
    if kind in ("match", "batch"):
        got = [(r["rank"], r["docid"], r["score"]) for r in rows]
        return R.check_ranked(got, R.ranked_topk(oi, qtext))
    if kind == "phrase":
        got = [(r["rank"], r["docid"], r["score"]) for r in rows]
        return R.check_ranked(got, R.ranked_phrase(oi, qtext))
    if kind == "facets":
        got = sorted((r["bucket"], r["doc_count"], r["brank"]) for r in rows)
        want = sorted(R.facet_counts(oi, qtext))
        return None if got == want else f"buckets {got} != {want}"
    got = [(r["rank"], r["docid"], None) for r in rows]
    return (R.check_ranked(got, R.ranked_topk(oi, qtext))
            or R.check_snippets(oi, qtext, [(r["rank"], r["docid"], r["snippet"])
                                            for r in rows]))


def _stage_metrics(index_dir: str, op: str) -> dict:
    from layers import BUILD_STAGES, COMPACT_STAGES, stage_metrics
    names = BUILD_STAGES if op == "build" else COMPACT_STAGES
    return {f"stage.{k}": v for k, v in stage_metrics(index_dir, names).items()}


def _trim_cache(cache_dir: str) -> None:
    files = sorted((os.path.join(cache_dir, n) for n in os.listdir(cache_dir)
                    if n.endswith(".pkl")), key=os.path.getmtime)
    for path in files[:-CACHE_FILES]:
        os.remove(path)


def _median(vals) -> float:
    return float(statistics.median(vals))


def end_to_end(bench: Bench, setup_s: float, ops: list[dict]) -> dict:
    """``op_p50_s`` is each operation kind's median wall, weighted by the
    kind's share of the run's operations, so a slow outlier moves it
    less than a mean would and the mix of kinds never decides which
    kind the median lands on; ``items_per_s`` is items per operation at
    that latency."""
    from layers import index_bytes
    by_kind: dict[str, list[dict]] = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o)
    op_s = sum(len(v) * _median(o["wall_s"] for o in v) for v in by_kind.values()) / len(ops)
    return {
        "setup_s": setup_s,
        "op_p50_s": op_s,
        "items_per_s": sum(o["items"] for o in ops) / len(ops) / op_s,
        "index_bytes_per_text_byte": index_bytes(bench.index_for_layers) / bench.text_bytes,
    }


def per_layer(bench: Bench, rss_peak: int) -> dict:
    """Median of each traced field per op kind, plus the on-disk and
    driver-side layers. Warm-up requests and the ingest probe are not
    part of any op's numbers."""
    import layers
    recs = [r for r in bench.tracer.records
            if not r.get("warmup") and not r.get("probe")]
    out: dict[str, tuple[float, str]] = {}
    for op in OPS:
        mine = [r for r in recs if r["kind"] == op]
        if not mine:
            raise RuntimeError(f"traced run recorded no {op!r} operation")
        fields = dict(OP_FIELDS, **(QUERY_FIELDS if op in QUERY_OPS else {}))
        for f, unit in fields.items():
            out[f"{op}.{f}"] = (_median(r[f] for r in mine if f in r), unit)
    for op in ("build", "compact"):
        mine = [r for r in recs if r["kind"] == op and "stage.spill_bytes" in r]
        for f in mine[-1]:
            if f.startswith("stage."):
                name = f"{op}.spill_bytes" if f == "stage.spill_bytes" else f"{op}.{f}"
                out[name] = (_median(r[f] for r in mine),
                             "B" if f == "stage.spill_bytes" else "s")
    idx = bench.index_for_layers
    for f, v in layers.index_metrics(idx).items():
        out[f"index.{f}"] = (v, "count" if f == "files" else "B")
    with open(os.path.join(idx, "stats.json")) as fh:
        avgdl = json.load(fh)["avgdl"]
    for f, v in layers.codec_rates(idx, avgdl).items():
        out[f"codec.{f}"] = (v, "Mpostings/s")
    out["process.peak_rss_mb"] = (rss_peak / (1 << 20), "MB")
    out["textops.tokenize_mb_per_s"] = (
        layers.tokenize_rate(bench.ref.pages["text"].tolist()), "MB/s")
    return out


def stop_spark(spark) -> None:
    """Stop the session and the JVM and wait for every child to exit."""
    from pyspark import SparkContext
    from tracer import descendants
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while (left := descendants()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "aarhus_spark")):
        print(f"perfbench: no aarhus_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from tracer import RssSampler

    stamp = machine_stamp()
    bench = Bench(args, stamp)
    print(f"perfbench: workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace} {json.dumps(stamp)}", flush=True)
    try:
        with RssSampler() as rss:
            try:
                bench.start()
                bench.write_corpus()
                if args.workload == "ingest":
                    setup_s, ops = bench.run_ingest()
                else:
                    setup_s, ops = bench.run_query_interactive()
                rss.sample()
                if not ops:
                    raise RuntimeError("no operation completed in the window")
                if args.trace:
                    metrics = per_layer(bench, rss.peak_bytes)
                else:
                    e2e = end_to_end(bench, setup_s, ops)
                    metrics = {k: (v, E2E_UNITS[k]) for k, v in e2e.items()}
            finally:
                if bench.spark is not None:
                    stop_spark(bench.spark)
    finally:
        shutil.rmtree(bench.work, ignore_errors=True)

    for line in bench.failures:
        print(f"perfbench: FAILED {line}", flush=True)
    result = {
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failed_ops),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    detail = {"args": vars(args), "stamp": stamp, "oracle_s": bench.oracle_s,
              "phases": bench.phases,
              "ops": ops, "records": bench.tracer.records,
              "failures": bench.failures, **result}
    out_dir = os.path.join(WORK_ROOT, "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(T_START * 1000)}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
