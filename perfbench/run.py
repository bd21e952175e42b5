"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the workload's inputs from the
seed, sets up Spark (and, for provider workloads, the loopback
provider server), runs a closed loop for ``--seconds``, checks every
output and prints one JSON line last: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. The line before it
is a JSON object describing the run (sample counts, tail percentile,
load average, hypervisor steal, server counters).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
import urllib.request  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import procinfo, stats  # noqa: E402

WORKLOADS = ("olap_tpch", "provider_cold", "provider_dashboard")
PROVIDER_WORKLOADS = ("provider_cold", "provider_dashboard")
SPARK_COUNTERS = ("stages", "tasks", "shuffle_write_bytes", "input_records", "core_busy_ratio")


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in BENCHMARK.json order."""
    names = [
        ("session.get_spark_s", "s"), ("datasource.first_read_s", "s"), ("api.call_s", "s"),
        ("http.fetch_s", "s"), ("http.requests_per_query", "count"), ("http.bytes_per_query", "bytes"),
        ("http.max_inflight", "count"), ("cache.hit_ratio", "ratio"),
        ("pushdown.fetched_rows_per_returned_row", "ratio"), ("datasource.load_s", "s"),
        ("datasource.partitions_per_query", "count"), ("geo.assign_s", "s"), ("geo.points_per_s", "1/s"),
        ("trace.overhead_ratio", "ratio"), ("trace.spans", "count"),
    ]
    from perfbench.workloads import OLAP_QUERIES

    for key in OLAP_QUERIES:
        names.append((f"query.{key}_s", "s"))
        for c in SPARK_COUNTERS:
            names.append((f"spark.{key}.{c}", "ratio" if c == "core_busy_ratio" else ("bytes" if "bytes" in c else "count")))
    return names


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="duckdb_sudan__spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class LoopbackServer:
    """The provider server as a child process (its request handling
    must not compete with the driver for this process's GIL)."""

    def __init__(self, seed: int) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.server", "--seed", str(seed)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.close()
            raise RuntimeError(f"loopback server failed to start: {line!r}")
        self.url = f"http://127.0.0.1:{int(line.split()[1])}"

    def call(self, path: str) -> dict:
        with urllib.request.urlopen(self.url + path, timeout=10) as resp:
            return json.loads(resp.read())

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


def closed_loop(ctx, workload, seconds: float, traced_run: bool):
    """Each client sends its next request when the previous one
    returns, cycle after cycle. Clients work in step: a step ends when
    every client's request has returned, so each request always runs
    beside the same requests of the other clients. The loop stops at
    the first cycle boundary after ``seconds``. In a traced run every
    request runs twice in a row, once traced and once not (alternating
    which goes first), so the untraced twins measure the tracing
    overhead."""
    records = []
    lock = threading.Lock()
    deadline = time.perf_counter() + seconds
    more = [True]
    step = threading.Barrier(workload.clients, action=lambda: more.__setitem__(0, time.perf_counter() < deadline))

    def execute(c: int, item, rid) -> None:
        t0 = time.perf_counter()
        try:
            if rid is not None:
                with ctx.tracer.request(rid):
                    out = workload.request(ctx, c, item, rid)
            else:
                out = workload.request(ctx, c, item, None)
            kind, ok = out.kind, out.ok
        except Exception:  # noqa: BLE001 - a failing request is counted, the loop goes on
            traceback.print_exc(file=sys.stderr)
            kind, ok = "error", False
        t1 = time.perf_counter()
        with lock:
            records.append({"client": c, "kind": kind, "ok": ok, "start": t0, "end": t1, "rid": rid})
        step.wait()

    def client(c: int) -> None:
        k, n = 0, 0
        while k == 0 or more[0]:
            for item in workload.cycle(c, k):
                order = (False, True) if n % 2 == 0 else (True, False)
                for traced in order if traced_run else (False,):
                    execute(c, item, f"r{c}.{n}" if traced else None)
                n += 1
            k += 1

    t_start = time.perf_counter()
    threads = [threading.Thread(target=client, args=(c,), name=f"client-{c}") for c in range(workload.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records, time.perf_counter() - t_start


def timed(fn, *args):
    """(fn(*args), seconds it took)."""
    t = time.perf_counter()
    return fn(*args), time.perf_counter() - t


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until no
    process started under this one (the JVM, Python workers) is left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the launched gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(procinfo.tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def overhead_ratio(records) -> float:
    """Geometric mean over request kinds of median traced latency /
    median untraced latency, minus one."""
    import math

    by_kind: dict[str, dict[bool, list[float]]] = {}
    for r in records:
        if r["ok"]:
            by_kind.setdefault(r["kind"], {True: [], False: []})[r["rid"] is not None].append(r["end"] - r["start"])
    logs = [math.log(statistics.median(v[True]) / statistics.median(v[False]))
            for v in by_kind.values() if v[True] and v[False]]
    return math.exp(sum(logs) / len(logs)) - 1.0 if logs else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    cores = os.cpu_count() or 1
    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    # Python workers import duckdb_sudan__spark (and, traced, perfbench) from here
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    # keep the JVM's and Python's temporary files inside the checkout too
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    load_before, cpu_before = procinfo.loadavg(), procinfo.cpu_times()

    server = None
    spark = None
    sampler = procinfo.RssSampler()
    try:
        with sampler:
            from duckdb_sudan__spark.session import get_spark

            from perfbench import workloads

            workload = workloads.make(args.workload, cores)
            tracer = None
            if args.trace:
                from perfbench.trace import Tracer

                tracer = Tracer()
            phases = {}
            spark, phases["session.get_spark_s"] = timed(get_spark, f"perfbench-{args.workload}")
            spark.sparkContext.setLogLevel("ERROR")

            ctx = workloads.Context(spark=spark, workload=args.workload, seed=args.seed, work_dir=work_dir,
                                    tracer=tracer, cores=cores)
            if args.workload in PROVIDER_WORKLOADS:
                from duckdb_sudan__spark.providers import http
                from duckdb_sudan__spark.sources.datasource import register_sudan_datasource

                server = LoopbackServer(args.seed)
                sampler.exclude.add(server.proc.pid)
                ctx.base_url = server.url
                for k in http.PROVIDER_BASES:
                    http.PROVIDER_BASES[k] = server.url
                register_sudan_datasource(spark)
                if tracer is not None:
                    from perfbench.traced_source import TracedSudanDataSource

                    ctx.trace_dir = os.path.join(work_dir, "spans")
                    os.makedirs(ctx.trace_dir, exist_ok=True)
                    spark.dataSource.register(TracedSudanDataSource)
                # the first DataSource query starts the Python workers; the
                # workload's own set-up and warm-up overlap it
                first = workloads.ProviderSpec(
                    "worldbank", {"indicator": "PBSETUP"}, ("SDN",),
                    workloads.YearFilter(*workloads.gen.REQUEST_YEARS), "ds",
                )
                first_pool = ThreadPoolExecutor(1)
                first_read = first_pool.submit(
                    timed, workloads.run_provider, ctx, first, workloads.provider_digest(args.seed, first), None
                )
                first_pool.shutdown(wait=False)

            info, phases["workload.setup_s"] = timed(workload.setup, ctx)
            if hasattr(workload, "warmup"):
                _, phases["workload.warmup_s"] = timed(workload.warmup, ctx)
            if args.workload == "provider_cold":
                info["unhcr_types_failing"] = workloads.failing_unhcr_types(args.seed)
                if info["unhcr_types_failing"]:
                    print(f"provider_cold: the package returns wrong rows for UNHCR population types "
                          f"{info['unhcr_types_failing']} (not in the timed requests)", file=sys.stderr)
            if server is not None:
                (ok, _), phases["datasource.first_read_s"] = first_read.result()
                if not ok:
                    raise RuntimeError("first DataSource read returned wrong rows")

            if tracer is not None:
                attach_driver_layers(tracer)
            if server is not None:
                server.call("/__reset")
            ctx.urls_needed = ctx.rows_returned = ctx.provider_queries = 0
            setup_s = time.perf_counter() - T_PROCESS

            records, elapsed = closed_loop(ctx, workload, args.seconds, bool(args.trace))

            server_stats = server.call("/__stats") if server is not None else {}
            if args.workload == "provider_cold" and server_stats["requests"] < ctx.urls_needed:
                raise RuntimeError(f"provider_cold is not cold: the server saw {server_stats['requests']} "
                                   f"requests for {ctx.urls_needed} distinct URLs")
            if tracer is not None:
                tracer.restore()
                spans = collect_spans(ctx, tracer)
    finally:
        if server is not None:
            server.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    cpu_after = procinfo.cpu_times()
    attempted = len(records)
    failed = sum(1 for r in records if not r["ok"])
    lat = [r["end"] - r["start"] for r in records if r["rid"] is None]
    tail_pct = stats.tail_percentile(len(lat))
    by_kind = stats.kind_medians((r["kind"], r["end"] - r["start"]) for r in records if r["rid"] is None)
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cores": cores, "requests": attempted, "error_ratio": stats.ratio(failed, attempted),
        "timed_requests_untraced": len(lat), "tail_percentile": round(tail_pct, 2),
        "loadavg_before": load_before, "loadavg_after": procinfo.loadavg(),
        "steal_share": round(procinfo.steal_share(cpu_before, cpu_after), 5),
        "setup_phases_s": {k: round(v, 4) for k, v in phases.items()}, "workload_info": info,
        "server": server_stats, "urls_needed": ctx.urls_needed,
        "latency_by_kind_s": {k: [n, round(m, 4)] for k, (n, m) in by_kind.items()},
    }
    if args.trace:
        metrics = layer_metrics(ctx, records, phases, server_stats, spans)
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "throughput_qps": {"value": attempted / elapsed, "unit": "1/s"},
            "latency_p50_s": {"value": statistics.median(lat), "unit": "s"},
            "latency_tail_s": {"value": stats.percentile(lat, tail_pct), "unit": "s"},
            "latency_kind_geomean_s": {"value": stats.geomean(m for _, m in by_kind.values()), "unit": "s"},
            "peak_rss_mb": {"value": sampler.peak / 2**20, "unit": "MB"},
        }
    print(json.dumps(context))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def attach_driver_layers(tracer) -> None:
    """Spans around the calls the driver makes into each layer."""
    from pyspark.sql.readwriter import DataFrameReader

    from duckdb_sudan__spark.providers import api

    from perfbench.traced_source import attach_fetch_layers

    for p in ("worldbank", "who", "fao", "unhcr", "ilo", "search", "wb_indicators"):
        tracer.patch(api, f"sudan_{p}", "api.call")
    attach_fetch_layers(tracer)
    tracer.patch(DataFrameReader, "load", "datasource.load")


def collect_spans(ctx, tracer) -> list:
    """The driver's spans plus those the Python workers wrote; all of
    them are also written to .perfbench_work/traces/."""
    import glob

    from perfbench.trace import load_spans, write_spans

    spans = list(tracer.spans)
    if ctx.trace_dir:
        spans += load_spans(sorted(glob.glob(os.path.join(ctx.trace_dir, "*.jsonl"))))
    trace_out = os.path.join(ROOT, ".perfbench_work", "traces")
    os.makedirs(trace_out, exist_ok=True)
    write_spans(spans, os.path.join(trace_out, f"{ctx.workload}-{ctx.seed}.jsonl"))
    return spans


def layer_metrics(ctx, records, phases, server_stats, spans) -> dict:
    from perfbench import workloads
    from perfbench.trace import self_times_by_request

    per_req = self_times_by_request(spans)
    traced = [r for r in records if r["rid"] is not None]

    def med_self(name: str) -> float:
        """Median over the traced requests that entered the layer of
        its summed self time in the request."""
        vals = [per_req[r["rid"]][name] for r in traced if name in per_req.get(r["rid"], {})]
        return statistics.median(vals) if vals else 0.0

    geo_s = med_self("geo.assign")
    values = {
        "session.get_spark_s": phases.get("session.get_spark_s", 0.0),
        "datasource.first_read_s": phases.get("datasource.first_read_s", 0.0),
        "api.call_s": med_self("api.call"),
        "http.fetch_s": med_self("http.fetch"),
        "http.requests_per_query": stats.ratio(server_stats.get("requests", 0), ctx.provider_queries),
        "http.bytes_per_query": stats.ratio(server_stats.get("bytes", 0), ctx.provider_queries),
        "http.max_inflight": server_stats.get("max_inflight", 0),
        "cache.hit_ratio": stats.hit_ratio(server_stats.get("requests", 0), ctx.urls_needed),
        "pushdown.fetched_rows_per_returned_row": stats.ratio(server_stats.get("rows", 0), ctx.rows_returned),
        "datasource.load_s": med_self("datasource.load"),
        "datasource.partitions_per_query": statistics.median(ctx.ds_partitions) if ctx.ds_partitions else 0,
        "geo.assign_s": geo_s,
        "geo.points_per_s": stats.ratio(workloads.DASHBOARD_POINTS, geo_s),
        "trace.overhead_ratio": overhead_ratio(records),
        "trace.spans": len(spans),
    }
    for key in workloads.OLAP_QUERIES:
        values[f"query.{key}_s"] = med_self(f"query.{key}")
        runs = ctx.spark_stats.get(key, [])
        for c in SPARK_COUNTERS:
            values[f"spark.{key}.{c}"] = statistics.median([s[c] for s in runs]) if runs else 0
    return {name: {"value": values[name], "unit": unit} for name, unit in per_layer_names()}


if __name__ == "__main__":
    sys.exit(main())
