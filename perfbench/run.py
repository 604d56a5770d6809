"""Warm-pass benchmark of the gmr_spark engine.

One closed-loop client in one process drives one ``get_session()`` on
``local[nproc]``. A run generates its inputs from ``--seed``
(``datagen.py``), sets the session up once, JVM launch included, then runs
one cold pass, one discarded warm-up pass and measured warm passes until
``--seconds`` seconds have passed and at least ``MIN_PASSES`` were measured.
Every pass does the same work: the engine's memos and caches are released
between passes, outside the pass clock. Each op's output goes through the engine's parquet sink; after the
measured passes, every op's output is checked against its DuckDB twin.

    python3 perfbench/run.py --workload graph_small --seed 1 --seconds 10 --trace 0

Lines starting with ``#`` report provenance and per-pass detail. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
reports the per-layer metrics from spans the benchmark records around its
own calls into each layer (see ``spans.py``).
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, "_work")

LAYERS = ("session", "sources.derive", "algorithms", "operators.relational",
          "operators.dedup", "operators.similarity", "operators.text_analysis",
          "operators.multimodal", "operators.curation", "sink")

# per workload: input size (datagen ``size``; 0.1 = the sf0.1 test tables),
# the graphs each pass derives first, and the ops each pass runs, in order
WORKLOADS = {
    "graph_small": {
        "size": 0.01,
        "graphs": ("linked_lineitems",),
        "ops": ("pagerank_big",),
    },
    "llm_warehouse": {
        "size": 0.01,
        "graphs": (),
        "ops": ("dedup_simhash", "curation", "cosine_topk", "gopher_quality",
                "multimodal_audio", "merge_upsert_orders"),
    },
}
WARMUP_PASSES = 1
MIN_PASSES = 3  # pass_s is the median of at least this many warm passes
PREWARM_JOB = "session: python worker prewarm"  # gmr_spark.session's label


def log(msg: str) -> None:
    print(f"# {msg}", flush=True)


def pin_host() -> dict:
    """Environment for the JVM and its Python workers, set before pyspark
    starts: scratch dirs inside the benchmark's work dir, a driver heap
    sized to the host and to the small inputs (a larger cap only lets the
    heap, and so the peak resident size, grow differently from run to
    run), and a status store large enough that no job or stage of a run
    is evicted."""
    nproc = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gb = max(1, min(2, int(mem_gb * 0.3)))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join((
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "--conf spark.ui.retainedJobs=1000000",
            "--conf spark.ui.retainedStages=1000000",
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            "pyspark-shell")),
    })
    return {"nproc": nproc, "heap_gb": heap_gb}


class Run:
    """One benchmark run: a session, its passes and their records."""

    def __init__(self, workload: str, sf_dir: str, trace: bool):
        self.spec = WORKLOADS[workload]
        self.sf_dir = sf_dir
        self.trace = trace
        self.out_root = os.path.join(WORK, "out", workload)
        self.attempted = 0
        self.raised: dict[str, str] = {}
        self.n_raised = 0
        self.n_edges: dict[str, int] = {}
        self.setup_s = 0.0
        self.probe_s = 0.0  # time spent in leak probes
        self.spark = None
        self.store = None
        self.ops = []
        self.last_out = ""

    # -- session -----------------------------------------------------------
    def setup(self) -> None:
        """What a batch job pays before its first op: the JVM launch and
        ``get_session()`` (which pre-warms the Python workers), then
        ``register_views``."""
        from gmr_spark.session import get_session
        from gmr_spark.sources.tables import register_views

        self.session_start = time.time()
        t0 = time.perf_counter()
        self.spark = get_session("perfbench", cpus=os.environ["SPARK_GRAFT_CPUS"])
        register_views(self.spark, self.sf_dir)
        self.setup_s = time.perf_counter() - t0
        self.session_end = time.time()
        if self.trace:
            from spans import StatusStore

            self.store = StatusStore(self.spark)
        self.ops = self._ops()

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def _ops(self):
        from gmr_spark.queries import BENCH_ONLY_QUERIES, all_queries

        queries = {**all_queries(), **BENCH_ONLY_QUERIES}
        out = []
        for name in self.spec["ops"]:
            fn = queries[name]
            layer = fn.__module__.removeprefix("gmr_spark.")
            if layer not in LAYERS:  # the graph queries are declared in queries.py
                layer = "algorithms"
            out.append((name, fn, layer))
        return out

    # -- one pass ----------------------------------------------------------
    def run_pass(self, index: int, traced: bool) -> dict:
        """Derive the workload's graphs, then run each op into the sink.
        A traced pass opens and closes spans, probes for leaks and reads
        the status store after each op, outside the op's clock but inside
        the pass's; the time all of that takes is the pass's overhead."""
        from gmr_spark.sources.derive import derive_graph
        from gmr_spark.sources.formats import write_table

        spark, sf = self.spark, self.sf_dir
        rec = {"layers": {}, "stages_missing": 0, "conf_leaks": 0, "op_s": {}}
        held: set[int] = set()  # blocks persisted by an op of this pass
        out_dir = os.path.join(self.out_root, f"pass{index}")
        trace_s = self.trace_s()
        t_pass = time.perf_counter()
        if self.spec["graphs"]:
            span = self.store.begin("sources.derive") if traced else None
            for name in self.spec["graphs"]:
                self.n_edges[name] = derive_graph(spark, sf, name, materialize=True).n_edges
            if traced:
                self._account(rec, [self.store.finish(span)])
        for name, fn, layer in self.ops:
            self.attempted += 1
            before = self._leak_probe() if traced else None
            spans = []
            t0 = time.perf_counter()
            span = self.store.begin(layer) if traced else None
            try:
                df = fn(spark, sf)
                sink = self.store.begin("sink") if traced else None
                write_table(df, os.path.join(out_dir, name))
                if traced:
                    spans.append(self.store.finish(sink))
            except Exception as exc:  # an op that raises counts as failed
                self.n_raised += 1
                self.raised.setdefault(name, f"{type(exc).__name__}: {exc}"[:300])
            if traced:
                spans.append(self.store.finish(span))
            rec["op_s"][name] = time.perf_counter() - t0
            if traced:
                conf0, rdds0 = before
                conf1, rdds1 = self._leak_probe()
                rec["conf_leaks"] += sum(1 for k in conf0.keys() | conf1.keys()
                                         if conf0.get(k) != conf1.get(k))
                held |= rdds1 - rdds0
                self._account(rec, spans)
        rec["wall"] = time.perf_counter() - t_pass
        rec["overhead"] = self.trace_s() - trace_s
        rec["output_mb"] = _dir_mb(out_dir)
        self.last_out = out_dir
        self.cleanup()
        # a leaked block is one that no release path of the engine freed
        rec["rdds_leaked"] = len(held & self._leak_probe()[1]) if traced else 0
        return rec

    def _account(self, rec: dict, spans) -> None:
        layers, missing = self.store.resolve(spans)
        rec["stages_missing"] += missing
        for layer, counters in layers.items():
            acc = rec["layers"].setdefault(layer, dict.fromkeys(counters, 0.0))
            for k, v in counters.items():
                acc[k] += v

    def cleanup(self) -> None:
        """Release what a pass left behind, outside the pass clock."""
        from gmr_spark.operators.dedup import clear_dedup_memo
        from gmr_spark.sources.derive import clear_graph_memo

        clear_graph_memo()
        clear_dedup_memo()
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def _leak_probe(self) -> tuple[dict, set[int]]:
        t0 = time.perf_counter()
        rdds = self.spark.sparkContext._jsc.getPersistentRDDs().keySet()
        out = dict(self.spark.conf.getAll), {int(k) for k in rdds}
        self.probe_s += time.perf_counter() - t0
        return out

    def trace_s(self) -> float:
        """Time spent so far in tracing: spans, status-store reads and
        leak probes."""
        return self.probe_s + (self.store.overhead_s if self.store else 0.0)

    def session_layer(self) -> tuple[dict, float]:
        """Counters of the session's set-up, and its worker pre-warm."""
        from spans import Span

        # the SparkContext numbers its jobs from 0
        span = Span("session", self.session_start, end=self.session_end,
                    first_job=0, end_job=self.store.session_jobs)
        layers, _ = self.store.resolve([span])
        prewarm_s = sum((j["completionTime"] - j["submissionTime"]) / 1e3
                        for j in self.store.jobs()
                        if j["jobId"] < span.end_job and j.get("completionTime")
                        and j.get("description") == PREWARM_JOB)
        return layers["session"], prewarm_s


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 2**20


def _peak_rss_kb(root_pid: int) -> list[int]:
    """Peak resident sizes (VmHWM, KiB) of the driver JVM, first, and of
    every process below it: the Python worker daemon and its workers."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop(0)
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as fh:
                out += [int(line.split()[1]) for line in fh if line.startswith("VmHWM:")]
        except OSError:
            continue
    return out


# -- correctness -----------------------------------------------------------
def check_outputs(run: Run) -> dict[str, str]:
    """Compare every op's sink output from the last pass with its DuckDB
    twin; returns {op: reason} for each mismatch. Twin results are cached
    per (dataset, SQL) as tables of a DuckDB file beside the dataset."""
    import duckdb
    from __spark_entry__ import oracle_sql
    from tests.oracle_check import compare

    from datagen import TABLES

    oracles = oracle_sql()
    bad: dict[str, str] = {}
    with duckdb.connect(os.path.join(run.sf_dir, "twins.duckdb")) as con:
        for t in TABLES:
            con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                        f"SELECT * FROM '{run.sf_dir}/{t}.parquet'")
        for name, _, _ in run.ops:
            if name in run.raised:
                continue
            sql = oracles[name]
            table = "twin_" + hashlib.sha1(sql.encode()).hexdigest()[:20]
            con.execute(f"CREATE TABLE IF NOT EXISTS {table} AS {sql}")
            out = run.spark.read.parquet(os.path.join(run.last_out, name))
            try:
                compare(out, con, f"SELECT * FROM {table}")
            except AssertionError as exc:
                bad[name] = str(exc)[:300]
    return bad


# -- metrics ---------------------------------------------------------------
UNITS = {"wall_s": "s", "driver_s": "s", "jobs": "count", "stages": "count",
         "executor_run_s": "s", "gc_s": "s", "shuffle_write_mb": "MB",
         "fetch_wait_s": "s", "spill_mb": "MB"}


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(run: Run, warm: list[dict], peak_rss: float) -> dict:
    return {
        "setup_s": metric(run.setup_s, "s"),
        "pass_s": metric(statistics.median(p["wall"] for p in warm), "s"),
        "peak_rss_mb": metric(peak_rss, "MB"),
    }


def per_layer(run: Run, cold: dict, traced: list[dict]) -> dict:
    """Per-pass medians over the traced passes; the session layer is the
    set-up. The cold pass is untraced in every run, and one sample of it
    per run spreads too widely on a shared 4-core host to carry an
    end-to-end bound, so it is reported here."""
    session, prewarm_s = run.session_layer()

    def med(get) -> float:
        return statistics.median(get(p) for p in traced)

    out = {}
    for layer in LAYERS:
        for c, unit in UNITS.items():
            v = session[c] if layer == "session" else med(
                lambda p: p["layers"].get(layer, {}).get(c, 0.0))
            out[f"{layer}.{c}"] = metric(v, unit)
    out.update({
        "session.cold_pass_s": metric(cold["wall"], "s"),
        "session.prewarm_s": metric(prewarm_s, "s"),
        "session.conf_leaks": metric(med(lambda p: p["conf_leaks"]), "count"),
        "session.rdds_leaked": metric(med(lambda p: p["rdds_leaked"]), "count"),
        "sink.output_mb": metric(med(lambda p: p["output_mb"]), "MB"),
        "trace.stages_missing": metric(sum(p["stages_missing"] for p in traced), "count"),
        "trace.overhead_s": metric(med(lambda p: p["overhead"]), "s"),
    })
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("gmr_spark", "tests/oracle_check.py", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found beside the benchmark", file=sys.stderr)
            return 2
    sys.path[:0] = [BENCH_DIR, ROOT]
    host = pin_host()

    import datagen
    import pyspark
    from gmr_spark.plans.pregel import BIG_GRAPH_ROWS

    spec = WORKLOADS[args.workload]
    sf_dir = datagen.ensure_dataset(os.path.join(WORK, "data"), args.seed, spec["size"])
    rows = datagen.table_rows(spec["size"])
    input_bytes = sum(os.path.getsize(os.path.join(sf_dir, f"{t}.parquet"))
                      for t in datagen.TABLES)

    run = Run(args.workload, sf_dir, bool(args.trace))
    shutil.rmtree(run.out_root, ignore_errors=True)
    measured: list[dict] = []
    try:
        run.setup()
        log(f"provenance: nproc={host['nproc']} heap={host['heap_gb']}g "
            f"spark={pyspark.__version__} seed={args.seed} size={spec['size']} "
            f"input_bytes={input_bytes} lineitem_rows={rows['lineitem']} "
            f"orders_rows={rows['orders']} documents_rows={rows['documents']}")
        cold = run.run_pass(0, traced=False)
        log(f"cold pass {cold['wall']:.3f}s")
        for name, n in run.n_edges.items():
            side = "above" if n > BIG_GRAPH_ROWS else "below"
            log(f"derived graph {name}: |E|={n} ({side} BIG_GRAPH_ROWS={BIG_GRAPH_ROWS})")
        for i in range(WARMUP_PASSES):
            log(f"warm-up pass {run.run_pass(1 + i, traced=False)['wall']:.3f}s")
        t_end = time.perf_counter() + args.seconds
        while len(measured) < MIN_PASSES or time.perf_counter() < t_end:
            p = run.run_pass(1 + WARMUP_PASSES + len(measured), traced=bool(args.trace))
            measured.append(p)
            log(f"measured pass {p['wall']:.3f}s "
                + " ".join(f"{k}={v:.3f}" for k, v in p["op_s"].items()))
        rss_kb = _peak_rss_kb(run.jvm_pid())
        peak_rss = sum(rss_kb) / 1024
        log(f"peak rss MB: jvm={rss_kb[0] / 1024:.1f} "
            f"workers={[round(k / 1024, 1) for k in rss_kb[1:]]}")
        bad = check_outputs(run)
        metrics = (per_layer(run, cold, measured) if args.trace
                   else end_to_end(run, measured, peak_rss))
    finally:
        run.stop()
    for name, why in {**run.raised, **bad}.items():
        log(f"FAILED {name}: {why}")
    log(f"setup {run.setup_s:.3f}s; measured passes n={len(measured)}")
    failed = run.n_raised + len(bad)
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
