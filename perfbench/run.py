"""Benchmark: run one workload of registry queries and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

Each run is one fresh process with one client in a closed loop: every
query of the workload is called through ``registry.QUERIES[name](spark,
data_dir)`` and its DataFrame is written to Spark's ``noop`` sink, so
every column of every row is computed. The steps are:

1. Generate the workload's inputs from ``--seed`` (``gen.py``; cached
   per scale and seed).
2. Empty the run directory and point Spark's scratch, warehouse, local
   and temporary directories at it.
3. Set up: launch the session (``session.get_spark``), import the
   queries (``registry.load_all``), look up the expected outputs from
   the registry's DuckDB oracles (``oracle.py``; cached) and run one
   warm-up pass that collects each query's result and checks it
   against the oracle digest. ``setup_s`` is process
   start to the first timed query, minus steps 1-2, the oracle lookup
   and the digest comparison.
4. Timed passes over all queries: as many as fit in ``--seconds`` at
   the workload's nominal pass time, at least ``MIN_PASSES``.
   ``pass_s`` and ``latency_geomean_s`` are made of each query's
   median latency over these passes.

With ``--trace 0`` the last stdout line holds the end-to-end metrics;
with ``--trace 1`` the same passes run untraced for half the time and
traced for the other half, and the line holds the per-layer metrics
(see ``GLOSSARY.md``). The traced run also writes its spans to
``perfbench/.work/run/<workload>/spans.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
sys.path.insert(0, str(BENCH))

import gen  # noqa: E402
import oracle  # noqa: E402
import procstat  # noqa: E402
import spans  # noqa: E402
from stats import geomean, median  # noqa: E402

# fixed JVM heap: a heap sized from free memory at launch would vary
# with the rest of the machine's load
JVM_HEAP = "4g"
# Spark cores, JIT compiler and GC threads held to half the machine's
# CPUs: with a task thread per CPU plus the JIT, the GC, the Python
# driver and its workers, the run queues for CPUs, and a slower phase
# of a shared host then lengthens a pass more than in proportion
# (measured on a 4-vCPU VM: the spread of pass_s over six runs fell
# from 0.16 to 0.11 of the median with 2 cores and these caps)
CPU_SHARE = 2
JVM_THREAD_CAPS = (
    "-XX:CICompilerCount=2 -XX:ParallelGCThreads={n} -XX:ConcGCThreads=1"
)
# timed passes per run at the least: each query's median latency needs
# several samples to shed a pass slowed by another tenant of the host
MIN_PASSES = 3


@dataclass(frozen=True)
class Workload:
    sf: float
    queries: tuple[str, ...]
    # one warm pass on a 4-vCPU machine; sets how many passes fit in
    # ``--seconds`` (see ``Runner.timed_passes``)
    nominal_pass_s: float


WORKLOADS = {
    "warehouse_sf0.05": Workload(
        0.05,
        (
            "q4_order_priority",
            "q9_product_profit",
            "q13_customer_distribution",
            "q18_large_volume_customer",
            "sessionization",
            "orc_roundtrip",
            "dynamic_partition_overwrite",
            "msck_repair_discovery",
            "ctas_catalog",
        ),
        7.0,
    ),
    "llm_dedup_sf0.05": Workload(
        0.05,
        ("dedup_components", "semantic_dedup", "heavy_hitters_topk"),
        6.0,
    ),
}

# the layers' span names, as reported per pass in the traced run
LAYER_SPANS = {
    "queries.build_s": "queries.build",
    "spark.action_s": "spark.action",
    "catalog.table_s": "catalog.table",
    "materialize.flush_s": "materialize.flush",
    "components.star_s": "components.star",
    "sketches.heavy_hitters_s": "sketches.heavy_hitters",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


@dataclass
class PassResult:
    wall_s: float
    cpu_s: float
    latency_s: dict[str, float] = field(default_factory=dict)
    build_s: dict[str, float] = field(default_factory=dict)
    spark: dict[str, dict[str, float]] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)


class Runner:
    def __init__(self, name: str, seed: int, trace: bool):
        self.name = name
        self.wl = WORKLOADS[name]
        self.seed = seed
        self.trace = trace
        self.tracer = spans.Tracer()
        self.pid = os.getpid()
        self.cores = max(1, len(os.sched_getaffinity(0)) // CPU_SHARE)
        self.attempted = 0
        self.failed = 0
        self.untimed_s = 0.0  # inputs, oracle and digest comparison

    # -- steps 1-2: inputs, expected outputs, run directory -------------

    def prepare(self) -> None:
        t = time.perf_counter()
        self.data_dir = WORK / "data" / f"sf{self.wl.sf}_seed{self.seed}"
        layout = gen.generate(self.data_dir, self.wl.sf, self.seed)
        log(f"inputs: {time.perf_counter() - t:.2f}s")
        for table, info in sorted(layout.items()):
            log(f"input {table}: {info}")
        self.input_bytes = {
            str(self.data_dir / f"{t}.parquet"): v["bytes"]
            for t, v in layout.items()
        }

        self.run_dir = WORK / "run" / self.name
        shutil.rmtree(self.run_dir, ignore_errors=True)
        tmp = self.run_dir / "tmp"
        for d in ("scratch", "local", "tmp"):
            (self.run_dir / d).mkdir(parents=True)
        os.environ.update(
            SPARK_GRAFT_CPUS=str(self.cores),
            SPARK_GRAFT_DRIVER_MEM=JVM_HEAP,
            SPARK_GRAFT_DRIVER_JAVA_OPTS=JVM_THREAD_CAPS.format(n=self.cores),
            SPARK_GRAFT_SCRATCH=str(self.run_dir / "scratch"),
            SPARK_LOCAL_DIRS=str(self.run_dir / "local"),
            # every JVM of the run, the spark-submit launcher included,
            # keeps its temporary and perf-data files out of /tmp
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            TMPDIR=str(tmp),
            # Python workers import the package from the checkout
            PYTHONPATH=os.pathsep.join(
                p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
            ),
        )
        tempfile.tempdir = str(tmp)
        # the warehouse (spark-warehouse/) and derby.log land here
        os.chdir(self.run_dir)
        sys.path.insert(0, str(ROOT))
        self.untimed_s += time.perf_counter() - t

    # -- step 3: set-up and the checked warm pass -----------------------

    def setup(self) -> None:
        tracer = self.tracer
        tracer.enabled = self.trace
        if self.trace:
            spans.install(tracer)
        from hdsp_hive_release_src_spark import registry, session

        with tracer.span("session.get_spark"):
            self.spark = session.get_spark(app_name=f"perfbench-{self.name}")
        self.spark.sparkContext.setLogLevel("ERROR")
        with tracer.span("registry.load_all"):
            registry.load_all()
        self.queries = registry.QUERIES
        self.load_expected({q: registry.ORACLES[q] for q in self.wl.queries})
        # the checked pass is also the warm-up: it pays the first
        # code generation of every query
        with tracer.span("setup.warm_pass"):
            self.checked_pass()
        self.setup_s = time.perf_counter() - T_START - self.untimed_s

    def load_expected(self, oracles: dict[str, str]) -> None:
        """Oracle digests for this workload's queries; DuckDB runs only
        for inputs it has not seen. Not set-up time."""
        t = time.perf_counter()
        self.expected = oracle.cached(self.data_dir, oracles)
        if self.expected is None:
            subprocess.run(
                [sys.executable, str(BENCH / "oracle.py"), str(ROOT),
                 str(self.data_dir), *oracles],
                check=True, stdout=subprocess.DEVNULL,
            )
            self.expected = oracle.cached(self.data_dir, oracles)
        self.untimed_s += time.perf_counter() - t
        log(f"oracle digests: {time.perf_counter() - t:.2f}s")

    def checked_pass(self) -> None:
        """Run each query once, collect its result and compare it with
        the oracle digest. The comparison time is not set-up time."""
        canon_pdf = oracle.load_canon(ROOT)
        sc = self.spark.sparkContext
        for q in self.wl.queries:
            self.tracer.trace_id = group = f"{self.name}/check/{q}"
            sc.setJobGroup(group, group)
            self.attempted += 1
            try:
                pdf = self.queries[q](self.spark, str(self.data_dir)).toPandas()
            except Exception as ex:  # a failing query is a counted error
                self.failed += 1
                log(f"check {q}: FAIL spark error {type(ex).__name__}: {ex}")
                continue
            t = time.perf_counter()
            got, want = oracle.digest(pdf, canon_pdf), self.expected[q]
            ok = got["rows"] > 0 and all(got[k] == want[k] for k in got)
            self.failed += not ok
            log(f"check {q}: {'ok' if ok else 'FAIL'} rows={got['rows']} "
                f"expected_rows={want['rows']}")
            self.untimed_s += time.perf_counter() - t

    # -- step 4: timed passes -------------------------------------------

    def run_pass(self, label: str) -> PassResult:
        tracer, sc = self.tracer, self.spark.sparkContext
        prefix = f"{self.name}/{label}"
        traced = tracer.enabled
        if traced:
            tracer.counters.clear()
            tracer.tables_read.clear()
        res = PassResult(0.0, 0.0)
        cache_max = [0, 0.0]
        cpu0, t0 = procstat.tree_cpu_s(self.pid), time.perf_counter()
        tracer.trace_id = prefix
        with tracer.span("pass"):
            for q in self.wl.queries:
                tracer.trace_id = group = f"{prefix}/{q}"
                sc.setJobGroup(group, group)
                self.attempted += 1
                a = time.perf_counter()
                try:
                    with tracer.span("query"):
                        with tracer.span("queries.build"):
                            df = self.queries[q](self.spark, str(self.data_dir))
                        b = time.perf_counter()
                        with tracer.span("spark.action"):
                            df.write.format("noop").mode("overwrite").save()
                except Exception as ex:  # a failing query is a counted error
                    self.failed += 1
                    log(f"{label} {q}: FAIL {type(ex).__name__}: {ex}")
                    continue
                res.latency_s[q] = time.perf_counter() - a
                res.build_s[q] = b - a
                if traced:
                    res.spark[q] = spans.job_group_stats(sc, group)
                    rdds, mb = spans.cache_state(sc)
                    cache_max = [max(cache_max[0], rdds), max(cache_max[1], mb)]
        res.wall_s = time.perf_counter() - t0
        res.cpu_s = procstat.tree_cpu_s(self.pid) - cpu0
        if traced:
            res.layers = self.layer_metrics(prefix, res, cache_max)
        return res

    def layer_metrics(self, prefix, res: PassResult, cache_max) -> dict:
        tracer = self.tracer
        pass_spans = tracer.spans_of(prefix)
        out = {
            metric: sum(s.end - s.start for s in pass_spans if s.name == name)
            for metric, name in LAYER_SPANS.items()
        }
        selfs = dict(zip(map(id, tracer.spans), spans.self_times(tracer.spans)))
        out["queries.build_self_s"] = sum(
            selfs[id(s)] for s in pass_spans if s.name == "queries.build"
        )
        out["catalog.table_calls"] = tracer.counters["catalog.table_calls"]
        out["materialize.released"] = tracer.counters["materialize.released"]
        out["materialize.retained_rdds_max"] = cache_max[0]
        out["materialize.cached_mb_max"] = cache_max[1]
        for metric in spans.SPARK_METRICS:
            out[metric] = sum(s[metric] for s in res.spark.values())
        out["spark.core_busy_ratio"] = out["spark.executor_run_s"] / (
            res.wall_s * self.cores
        )
        files, size = 0, 0
        for d in (self.run_dir / "scratch", self.run_dir / "spark-warehouse"):
            for p in d.rglob("*"):
                if p.is_file():
                    files += 1
                    size += p.stat().st_size
        read = sum(self.input_bytes.get(t, 0) for t in tracer.tables_read)
        out["io.files_written"] = files
        out["io.bytes_on_disk"] = size
        out["io.bytes_stored_per_input_byte"] = size / read if read else 0.0
        for q in self.wl.queries:
            out[f"query.{q}.s"] = res.latency_s.get(q, 0.0)
            out[f"query.{q}.build_s"] = res.build_s.get(q, 0.0)
            out[f"query.{q}.jobs"] = res.spark.get(q, {}).get("spark.jobs", 0)
        return out

    def timed_passes(
        self, label: str, seconds: float, min_passes: int = MIN_PASSES
    ) -> list[PassResult]:
        """As many passes as fit in ``seconds`` at the workload's nominal
        pass time. The count does not depend on how fast this run goes:
        the JIT is still compiling through these passes, so a run that
        stopped on the clock would take its medians from earlier, slower
        passes whenever the host is slow, and widen the spread."""
        count = max(min_passes, round(seconds / self.wl.nominal_pass_s))
        passes: list[PassResult] = []
        while len(passes) < count:
            p = self.run_pass(f"{label}{len(passes)}")
            passes.append(p)
            log(f"{label} pass {len(passes)}: {p.wall_s:.3f}s "
                f"cpu {p.cpu_s:.2f}s "
                + " ".join(f"{v:.3f}" for v in p.latency_s.values()))
        return passes

    # -- teardown ---------------------------------------------------------

    def stop(self) -> None:
        """Stop Spark, end the JVM and wait for every process the run
        started."""
        from pyspark import SparkContext

        started = procstat.tree_pids(self.pid)[1:]
        gateway = SparkContext._gateway
        if hasattr(self, "spark"):
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        left = procstat.wait_gone(started, 30)
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        procstat.wait_gone(left, 10)


def query_medians(r: Runner, passes: list[PassResult]) -> dict[str, float]:
    """Each query's median latency over the passes."""
    return {
        q: median([p.latency_s[q] for p in passes if q in p.latency_s])
        for q in r.wl.queries
    }


def end_to_end(r: Runner, passes: list[PassResult]) -> dict:
    per_query = query_medians(r, passes)
    samples = sum(len(p.latency_s) for p in passes)
    log(f"samples: {len(passes)} passes, {samples} query latencies")
    for q, s in per_query.items():
        log(f"median {q}: {s:.3f}s")
    return {
        "setup_s": r.setup_s,
        # a typical pass: a burst of load from another tenant of the
        # host slows a query or two of one pass, which the per-query
        # medians leave out and a median of pass times would not
        "pass_s": sum(per_query.values()),
        "latency_geomean_s": geomean([s for s in per_query.values() if s > 0]),
    }


def per_layer(
    r: Runner, untraced: list[PassResult], traced: list[PassResult], peak_rss_mb: float
) -> dict:
    setup = {
        "session.get_spark_s": "session.get_spark",
        "registry.load_all_s": "registry.load_all",
        "setup.warm_pass_s": "setup.warm_pass",
    }
    out = {
        metric: next(
            (s.end - s.start for s in r.tracer.spans if s.name == name), 0.0
        )
        for metric, name in setup.items()
    }
    for key in traced[0].layers:
        out[key] = median([p.layers[key] for p in traced])
    out["trace.overhead_ratio"] = sum(query_medians(r, traced).values()) / sum(
        query_medians(r, untraced).values()
    )
    # process-tree figures of the untraced passes: tracing adds JVM work
    out["proc.cpu_s"] = median([p.cpu_s for p in untraced])
    out["proc.peak_rss_mb"] = peak_rss_mb
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("hdsp_hive_release_src_spark/registry.py",
                 "tools/check_oracle.py"):
        if not (ROOT / need).is_file():
            log(f"program file {need} not found under {ROOT}")
            return 2

    r = Runner(args.workload, args.seed, bool(args.trace))
    r.prepare()
    try:
        r.setup()
        log(f"setup_s {r.setup_s:.3f}")
        if r.trace:
            # peak RSS of the steady state: the timed passes only
            with procstat.RssSampler(r.pid) as rss:
                r.tracer.enabled = False
                untraced = r.timed_passes("untraced", args.seconds / 2, 2)
                r.tracer.enabled = True
                traced = r.timed_passes("traced", args.seconds / 2, 2)
        else:
            passes = r.timed_passes("pass", args.seconds)
    finally:
        r.stop()
    log(f"run wall {time.perf_counter() - T_START:.2f}s")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if r.trace:
        (r.run_dir / "spans.json").write_text(json.dumps(r.tracer.dump()))
        values = per_layer(r, untraced, traced, rss.peak_mb)
        wanted = spec["per_layer"]
    else:
        values, wanted = end_to_end(r, passes), spec["end_to_end"]
    print(json.dumps({
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        # per-query metrics of queries outside this workload read 0
        "metrics": {
            m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
            for m in wanted
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
