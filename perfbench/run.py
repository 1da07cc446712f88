#!/usr/bin/env python3
"""The engine's benchmark: one workload, one seed, one process.

Usage (from the repository root)::

    python3 perfbench/run.py --workload olap_headline --seed 1 --seconds 5 --trace 0

A closed loop with one client and no think time on ``local[nproc]``: each
pass builds every query of the workload fresh (``registry.fresh_fn``) and
collects it with ``toPandas()``; the session comes from
``session.get_spark`` with the engine's default confs.  The run

1. writes the workload's inputs from ``--seed`` (``perfbench/gen.py``),
2. sets up: ``get_spark`` (which starts the JVM) plus the first, cold
   pass (``setup_s``),
3. runs ``SETTLE_PASSES`` untimed passes while the JIT settles,
4. runs passes until ``--seconds`` have passed,
5. checks every query of the last untimed pass against the registry's
   DuckDB oracle, and
6. prints a detail line, then one JSON line with ``correct``,
   ``attempted``, ``failed`` and the metrics: the end-to-end metrics with
   ``--trace 0``, the per-layer metrics with ``--trace 1``.

The traced run sets up once, then alternates traced and untraced passes and
reports per-pass medians over the traced ones; see ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / "perfbench" / ".work"

#: workload -> registry queries of one pass.  Why each was chosen, and the
#: layers each is meant to move or leave flat: perfbench/README.md.
WORKLOADS = {
    "olap_headline": None,  # bench.HEADLINE, resolved at run time
    "pipelines": (
        "zarr_roundtrip",
        "zarr_pyds_write_roundtrip",
        "sc_recipe_zheng17",
        "sc_neighbors_nnd",
        "dedup_pipeline_verdict_star",
    ),
}

#: Untimed passes after set-up and outside ``setup_s``.  The headline
#: queries get faster for about six passes while the JVM's C2 compiler
#: finishes their scan, agg and exchange paths (at sf0.1, on 4 cores: 14.4,
#: 3.3, 2.6, 2.0, 1.9, 1.8, 1.7 s); three cover the steep part within the
#: run budget.  ``pipelines`` affords none.
SETTLE_PASSES = {"olap_headline": 3, "pipelines": 0}
DEFAULT_DRIVER_MEM = "4g"


@dataclass
class QueryRun:
    name: str
    seconds: float
    pdf: object = None
    error: str | None = None
    rows: int = 0
    phases_ms: dict | None = None
    new_entries: tuple = ()
    qid: int = 0  # query execution id of the traced run's spans


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def machine() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": nproc(),
        "ram_gb": round(mem_kb / 2**20, 2),
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }


def prepare_dirs() -> dict[str, Path]:
    """Fresh per-run scratch dirs inside the checkout; everything Spark,
    the JVM and the engine write goes here."""
    run = WORK / "run"
    shutil.rmtree(run, ignore_errors=True)
    dirs = {k: run / k for k in ("tmp", "local", "events", "warehouse")}
    for d in dirs.values():
        d.mkdir(parents=True)
    os.environ["TMPDIR"] = str(dirs["tmp"])
    tempfile.tempdir = str(dirs["tmp"])
    os.environ["SPARK_LOCAL_DIRS"] = str(dirs["local"])
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DEFAULT_DRIVER_MEM)
    # Every JVM (the spark-submit launcher too) keeps its temp files here
    # and writes no hsperfdata to the system temp dir.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    return dirs


def start_spark(dirs: dict[str, Path], trace: bool):
    from single_cell_experiments_spark.session import get_spark

    # A path only; no performance conf is set here.
    confs = {"spark.sql.warehouse.dir": str(dirs["warehouse"])}
    if trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": dirs["events"].as_uri(),
                "spark.eventLog.compress": "false",
                # one plain file, <dir>/<application id>, instead of the
                # rolling directory Spark 4 writes by default
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app_name="perfbench", cpus=nproc(), extra_confs=confs)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)


def run_pass(
    spark, names, data_dir: str, tmp_dir: Path, tracer=None, keep: bool = False
) -> list[QueryRun]:
    """One pass over ``names``: fresh build, then ``toPandas()``.  A query
    that raises is recorded and the pass goes on.  Results are kept only
    with ``keep`` (the untimed passes; the oracle checks the last)."""
    from contextlib import nullcontext

    from single_cell_experiments_spark.registry import fresh_fn

    span = tracer.span if tracer else (lambda name: nullcontext())
    runs = []
    for name in names:
        before = set(os.listdir(tmp_dir))
        run = QueryRun(name, 0.0)
        t0 = time.perf_counter()
        try:
            if tracer:
                tracer.qid += 1
                run.qid = tracer.qid
            with span("query"):
                fn = fresh_fn(name)
                fn = tracer.traced(fn) if tracer else fn
                with span("registry.build"):
                    df = fn(spark, data_dir)
                with span("execute"):
                    run.pdf = df.toPandas()
            run.seconds = time.perf_counter() - t0
            run.rows = len(run.pdf)
            if tracer:
                run.phases_ms = catalyst_phases_ms(df)
        except Exception as e:  # noqa: BLE001 — a failed query is counted, the loop goes on
            run.seconds = time.perf_counter() - t0
            run.error = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        run.new_entries = tuple(sorted(set(os.listdir(tmp_dir)) - before))
        if not keep:
            run.pdf = None
        runs.append(run)
    return runs


def catalyst_phases_ms(df) -> dict[str, float]:
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def jvm_heap_after_gc_mb(spark) -> float:
    gc.collect()
    jvm = spark.sparkContext._jvm
    for _ in range(2):
        jvm.System.gc()
        time.sleep(0.2)
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def retained_rdds(spark) -> tuple[int, float]:
    """Engine checkpoints still registered (count, MB) after a GC."""
    jvm_heap_after_gc_mb(spark)
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def job_floor_ms(spark, samples: int = 3) -> float:
    times = []
    for _ in range(samples):
        t0 = time.perf_counter()
        spark.range(1).count()
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def dir_usage(paths) -> tuple[float, int]:
    """(MB, file count) under ``paths``."""
    total, files = 0, 0
    for p in paths:
        for dirpath, _, names in os.walk(p):
            for n in names:
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total / 2**20, files


def oracle_check(names, data_dir: str, runs: list[QueryRun]) -> dict[str, str]:
    """query -> "ok" or the reason it failed, for the last untimed pass."""
    from single_cell_experiments_spark.registry import REGISTRY

    from perfbench import oracle

    con = oracle.connect(data_dir, nproc())
    digest = oracle.input_digest(data_dir)
    verdict = {}
    try:
        for run in runs:
            sql = REGISTRY[run.name].oracle
            if run.error:
                verdict[run.name] = f"error: {run.error}"
            elif sql is None:
                verdict[run.name] = "no oracle"
            else:
                want = oracle.expected(con, run.name, sql, digest, str(WORK / "oracle-cache"))
                verdict[run.name] = oracle.mismatch(run.pdf, want) or "ok"
    finally:
        con.close()
    return verdict


def count_failures(timed: list[list[QueryRun]], verdict: dict[str, str]) -> tuple[int, int]:
    """(attempted, failed) over the timed executions: an execution fails
    when it raised or when its query did not match the oracle (every run
    of a query builds the same plan over the same inputs)."""
    attempted = failed = 0
    for runs in timed:
        for run in runs:
            attempted += 1
            failed += bool(run.error) or verdict.get(run.name) != "ok"
    return attempted, failed


def dedup_shareable_share(data_dir: str) -> float:
    """Share of documents in at least one ≥2-member LSH bucket, by the
    engine's own shingle/minhash/band SQL run in DuckDB."""
    from single_cell_experiments_spark.operators.dedup import _DD_SHINGLES, _lsh_core_sql

    from perfbench import oracle

    con = oracle.connect(data_dir, nproc())
    try:
        shared, total = con.sql(
            _lsh_core_sql(_DD_SHINGLES)
            + """
SELECT (SELECT count(DISTINCT b.doc_id) FROM bands b
        JOIN (SELECT band, sig FROM bands GROUP BY band, sig HAVING count(*) >= 2) g
          ON g.band = b.band AND g.sig = b.sig),
       (SELECT count(*) FROM documents)"""
        ).fetchone()
    finally:
        con.close()
    return shared / total


def user_bytes(data_dir: str) -> int:
    """Bytes of the embeddings matrix and its ids as the user holds them."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
    dim = len(t.column("embedding")[0])
    return t.num_rows * (dim * 4 + 8)


def manifest(workload, data_dir, tables, tmp_dir: Path, written: dict[str, set]):
    """Input manifest: tables, plus the property the workload is chosen for.
    ``written``: query -> the temp-dir entries (Zarr stores) it wrote."""
    out = {"tables": tables}
    if workload == "pipelines":
        out["shareable_doc_share"] = round(dedup_shareable_share(data_dir), 4)
    stores = {}
    for name, entries in sorted(written.items()):
        mb, objects = dir_usage(tmp_dir / e for e in entries)
        stores[name] = {"store_mb": round(mb, 4), "objects": objects}
    if stores:
        out["stores"] = stores
    return out


def timed_passes(spark, names, data_dir, tmp_dir, seconds: float) -> list[list[QueryRun]]:
    passes = []
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        passes.append(run_pass(spark, names, data_dir, tmp_dir))
    return passes


def end_to_end(setup_s, passes) -> tuple[dict, dict]:
    pass_s = [sum(r.seconds for r in p) for p in passes]
    query_ms = [r.seconds * 1e3 for p in passes for r in p]
    p90 = (
        statistics.quantiles(query_ms, n=10, method="inclusive")[-1]
        if len(query_ms) > 1
        else query_ms[0]
    )
    per_query = {}
    for name in [r.name for r in passes[0]]:
        ms = [r.seconds * 1e3 for p in passes for r in p if r.name == name]
        per_query[name] = {"median_ms": round(statistics.median(ms), 3), "n": len(ms)}
    detail = {
        "passes": len(passes),
        "pass_s_each": [round(x, 4) for x in pass_s],
        "query_median_ms": round(statistics.median(query_ms), 3),
        "query_p90_ms": round(p90, 3),
        "query_n": len(query_ms),
        "per_query": per_query,
    }
    metrics = {"setup_s": setup_s, "pass_s": statistics.median(pass_s)}
    return metrics, detail


def layer_metrics(
    tracer, per_group: dict, pass_no: int, runs: list[QueryRun], probes: dict, source_names, user_b
) -> dict[str, float]:
    """Per-layer metrics of one traced pass."""
    from perfbench import spans as sp

    S = tracer.spans
    mine = [s for s in S if s.pass_no == pass_no]
    m: dict[str, float] = {}
    for n in ["query", "registry.build", "execute"] + [name for _, _, name in sp.WRAPPED]:
        ss = [s for s in mine if s.name == n]
        work = sp.spark_work([x for s in ss for x in sp.subtree(s, S)], per_group)
        m[f"{n}.calls"] = len(ss)
        m[f"{n}.s"] = sum(s.dur for s in ss)
        m[f"{n}.self_s"] = sum(sp.self_time(s, S) for s in ss)
        m[f"{n}.jobs"] = work["jobs"]
        m[f"{n}.shuffle_write_mb"] = work["shuffle_write_mb"]
    total = sp.spark_work(mine, per_group)
    m.update({f"spark.{k}": v for k, v in total.items()})
    m["spark.shuffle_write_per_input"] = (
        total["shuffle_write_mb"] / total["input_mb"] if total["input_mb"] else 0.0
    )
    m["spark.job_floor_ms"] = probes["job_floor_ms"]
    # share of the pass that its jobs cost at the empty-job floor
    m["spark.dispatch_share"] = (
        total["jobs"] * probes["job_floor_ms"] / 1e3 / sum(r.seconds for r in runs)
    )
    m["session.retained_rdds"] = probes["retained_rdds"]
    m["session.retained_mb"] = probes["retained_mb"]
    m["registry.build_s"] = m["registry.build.self_s"]
    for phase in ("analysis", "optimization", "planning"):
        m[f"registry.{phase}_ms"] = sum((r.phases_ms or {}).get(phase, 0.0) for r in runs)
    m["execute.rows"] = sum(r.rows for r in runs)
    src = {r.qid for r in runs if r.name in source_names}
    kids = [S[c] for s in mine if s.name == "query" and s.qid in src for c in s.children]
    m["sources.write_s"] = sum(k.dur for k in kids if k.name == "registry.build")
    m["sources.read_s"] = sum(k.dur for k in kids if k.name == "execute")
    m["sources.store_mb"] = probes["store_mb"]
    m["sources.objects"] = probes["store_objects"]
    m["sources.bytes_per_user_byte"] = (
        probes["store_mb"] * 2**20 / (user_b * len(src)) if src else 0.0
    )
    return m


def traced_run(spark, names, data_dir, dirs, seconds, stores):
    """Alternate traced and untraced passes (at least two traced, one
    untraced) until ``seconds`` have passed; probes run after traced passes.
    ``stores``: the temp-dir entries the Zarr roundtrips write."""
    from perfbench.spans import Tracer

    tracer = Tracer(spark.sparkContext)
    traced, untraced = [], []
    t0 = time.perf_counter()
    while len(traced) < 2 or not untraced or time.perf_counter() - t0 < seconds:
        if len(traced) <= len(untraced):
            tracer.pass_no = len(traced)
            tracer.install()
            try:
                runs = run_pass(spark, names, data_dir, dirs["tmp"], tracer)
            finally:
                tracer.uninstall()
            rdds, rdd_mb = retained_rdds(spark)
            store_mb, store_objects = dir_usage(dirs["tmp"] / e for e in stores)
            probes = {
                "job_floor_ms": job_floor_ms(spark),
                "retained_rdds": rdds,
                "retained_mb": rdd_mb,
                "store_mb": store_mb,
                "store_objects": store_objects,
            }
            traced.append((runs, probes))
        else:
            untraced.append(run_pass(spark, names, data_dir, dirs["tmp"]))
    return tracer, traced, untraced


def per_layer(tracer, traced, untraced, log: Path, source_names, user_b):
    """Per-layer metrics of the traced run: medians over the traced passes.
    ``log``: the session's event log."""
    from perfbench import spans as sp

    per_group = sp.read_event_log(log)
    per_pass = [
        layer_metrics(tracer, per_group, i, runs, probes, source_names, user_b)
        for i, (runs, probes) in enumerate(traced)
    ]
    counts = ("spark.jobs", "spark.stages", "session.materialize.calls")
    repeat = all(len({p[k] for p in per_pass}) == 1 for k in counts)
    t_pass = statistics.median(sum(r.seconds for r in runs) for runs, _ in traced)
    u_pass = statistics.median(sum(r.seconds for r in runs) for runs in untraced)
    metrics = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    metrics["trace.pass_s"] = t_pass
    metrics["trace.untraced_pass_s"] = u_pass
    metrics["trace.overhead_s"] = t_pass - u_pass
    metrics["trace.counts_repeat"] = float(repeat)
    metrics["trace.passes"] = len(traced)
    extra = {
        "traced_passes": len(traced),
        "untraced_passes": len(untraced),
        "counts_per_pass": {k: [p[k] for p in per_pass] for k in counts},
    }
    if not repeat:
        print(f"counts differ between traced passes: {extra['counts_per_pass']}", file=sys.stderr)
    return metrics, extra


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    from single_cell_experiments_spark.registry import REGISTRY, _load_all_operator_modules

    from bench import HEADLINE
    from perfbench import gen

    _load_all_operator_modules()
    names = WORKLOADS[args.workload] or HEADLINE
    t_start = time.perf_counter()
    dirs = prepare_dirs()
    data_dir = str(WORK / "data" / f"{args.workload}-s{args.seed}")
    tables = gen.write_inputs(args.workload, args.seed, data_dir)
    source_names = {n for n in names if "sources" in REGISTRY[n].tags}
    user_b = user_bytes(data_dir) if source_names else 0

    wall = {"generate_s": time.perf_counter() - t_start}
    t0 = time.perf_counter()
    spark = start_spark(dirs, trace=bool(args.trace))
    try:
        wall["get_spark_s"] = time.perf_counter() - t0
        warm = run_pass(spark, names, data_dir, dirs["tmp"], keep=True)
        setup_s = wall["setup_s"] = time.perf_counter() - t0
        wall["cold_query_s"] = {r.name: r.seconds for r in warm}
        # query -> the temp-dir entries (Zarr stores) it wrote
        written = {r.name: set(r.new_entries) for r in warm if r.name in source_names}
        for _ in range(SETTLE_PASSES[args.workload]):
            warm = run_pass(spark, names, data_dir, dirs["tmp"], keep=True)

        t0 = time.perf_counter()
        if args.trace:
            app_id = spark.sparkContext.applicationId
            stores = sorted(e for es in written.values() for e in es)
            tracer, traced, untraced = traced_run(
                spark, names, data_dir, dirs, args.seconds, stores
            )
            timed = [r for r, _ in traced] + untraced
        else:
            timed = timed_passes(spark, names, data_dir, dirs["tmp"], args.seconds)
            heap_mb = jvm_heap_after_gc_mb(spark)
            rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        wall["timed_s"] = time.perf_counter() - t0
    finally:
        stop_spark(spark)

    t1 = time.perf_counter()
    verdict = oracle_check(names, data_dir, warm)
    wall["oracle_s"] = time.perf_counter() - t1
    attempted, failed = count_failures(timed, verdict)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "machine": machine(),
        "settle_passes": SETTLE_PASSES[args.workload],
        "inputs": manifest(args.workload, data_dir, tables, dirs["tmp"], written),
        "oracle": verdict,
        "fail_rate": failed / attempted,
        "wall": wall,
    }
    if args.trace:
        log = dirs["events"] / app_id
        metrics, extra = per_layer(tracer, traced, untraced, log, source_names, user_b)
        detail.update(extra)
        out_dir = WORK / "trace"
        out_dir.mkdir(parents=True, exist_ok=True)
        with open(out_dir / f"{args.workload}-s{args.seed}.json", "w") as f:
            json.dump({**detail, "spans": [s.__dict__ for s in tracer.spans]}, f)
    else:
        metrics, extra = end_to_end(setup_s, timed)
        metrics["jvm_heap_retained_mb"] = heap_mb
        metrics["py_peak_rss_mb"] = rss_mb
        detail.update(extra)
    wall["total_s"] = time.perf_counter() - t_start
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": failed == 0 and all(v == "ok" for v in verdict.values()),
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    name: {"value": metrics[name], "unit": unit}
                    for name, unit in declared("per_layer" if args.trace else "end_to_end")
                },
            }
        )
    )
    return 0


def declared(kind: str) -> list[tuple[str, str]]:
    """(name, unit) of the ``kind`` metrics BENCHMARK.json declares."""
    with open(ROOT / "BENCHMARK.json") as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


if __name__ == "__main__":
    raise SystemExit(main())
