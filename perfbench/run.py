"""Seeded benchmark for warpdb_spark.

    python3 perfbench/run.py --workload interactive_sql --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. Generates the workload's inputs
from ``--seed``, sets the engine up several times (``setup_s`` is the
median), runs each kind of operation once untimed, drives a closed
loop for ``--seconds``, verifies every timed
operation against an independent oracle, and prints a human-readable
report followed by one JSON line (the last line of stdout):
end-to-end metrics with ``--trace 0``; per-layer metrics from a traced
run with ``--trace 1``. Exits non-zero on an oracle mismatch or when
the engine cannot be imported from the checkout.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import asdict, dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3

#: metric -> unit, printed with ``--trace 0``
END_TO_END = {
    "setup_s": "s",
    "queries_per_s": "1/s",
    "latency_p50_ms": "ms",
    "rows_per_s": "rows/s",
}

#: metric -> unit, printed with ``--trace 1``; "/op" is per completed
#: operation, "ms/op" in a span is per traced operation
PER_LAYER = {
    "process.peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "sources.load_table_ms": "ms",
    "sources.input_bytes_per_op": "B/op",
    "sources.input_rows_per_op": "rows/op",
    "sources.rows_examined_per_result_row": "ratio",
    "sources.write_table_ms": "ms",
    "sources.output_bytes": "B/op",
    "sources.write_amplification": "ratio",
    "plans.parse_ms": "ms/op",
    "plans.build_ms": "ms/op",
    "plans.jvm_calls_per_query": "calls/op",
    "api.export_ms": "ms/op",
    "api.result_rows": "rows/op",
    "api.result_bytes": "B/op",
    "spark.analysis_ms": "ms/op",
    "spark.optimization_ms": "ms/op",
    "spark.planning_ms": "ms/op",
    "spark.jobs_per_op": "jobs/op",
    "spark.stages_per_op": "stages/op",
    "spark.tasks_per_op": "tasks/op",
    "spark.executor_run_ms": "ms/op",
    "spark.executor_cpu_ms": "ms/op",
    "spark.busy_ratio": "ratio",
    "spark.shuffle_read_bytes": "B/op",
    "spark.shuffle_write_bytes": "B/op",
    "spark.spill_bytes": "B/op",
    "spark.gc_ms": "ms/op",
    "spark.failed_tasks": "count",
    "operators.exact_dedup_ms": "ms/op",
    "operators.minhash_dedup_ms": "ms/op",
    "operators.cosine_topk_ms": "ms/op",
    "operators.minhash_signature_ms": "ms",
    "operators.lsh_candidate_pairs": "count",
    "operators.lsh_verified_pairs": "count",
    "operators.lsh_precision": "ratio",
    "workload.repeat_share": "ratio",
    "trace.overhead_ms": "ms",
    "trace.overhead_pct": "%",
    "self.bench_ms": "ms/op",
    "self.sources_ms": "ms/op",
    "self.plans_ms": "ms/op",
    "self.api_ms": "ms/op",
    "self.operators_ms": "ms/op",
}


@dataclass
class Record:
    op_id: int
    client: int
    traced: bool
    start: float
    end: float
    result: object = None
    phases: dict | None = None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000


def import_engine():
    """Import warpdb_spark from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    import warpdb_spark

    where = os.path.dirname(os.path.abspath(warpdb_spark.__file__))
    if where != os.path.join(ROOT, "warpdb_spark"):
        raise ImportError(f"warpdb_spark imported from {where}, not from the checkout at {ROOT}")
    return warpdb_spark


def closed_loop(workload, seconds: float, tracer, trace: bool):
    """Each client sends its next operation when the previous one
    returns, until the deadline has passed and it has completed
    ``min_ops`` and at least one round (twice that when tracing). With ``trace``, a client
    alternates untraced and traced rounds, so both halves see the same
    warm-up, inputs and mix.

    Returns every record and the records of whole rounds with their
    wall time; the metrics use the latter."""
    from spark_metrics import query_phases_ms

    records: list[Record] = []
    lock = threading.Lock()
    ids = itertools.count()
    cycle = workload.cycle
    min_ops = (2 if trace else 1) * max(workload.min_ops, cycle)
    start = time.perf_counter()
    deadline = start + seconds

    def client(c: int):
        for seq in itertools.count():
            if seq >= min_ops and time.perf_counter() >= deadline:
                return
            op_id, traced = next(ids), trace and (seq // cycle) % 2 == 1
            rec = Record(op_id, c, traced, time.perf_counter(), 0.0)
            try:
                with tracer.enabled(traced, op_id), tracer.span("bench.op"):
                    rec.result = workload.run_op(c, seq, tracer)
            except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
                print(f"operation {op_id} failed:\n{traceback.format_exc()}", file=sys.stderr)
            rec.end = time.perf_counter()
            if traced and rec.result is not None and rec.result.frame is not None:
                rec.phases = query_phases_ms(rec.result.frame)
            with lock:
                records.append(rec)

    threads = [threading.Thread(target=client, args=(c,)) for c in range(workload.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    records.sort(key=lambda r: r.op_id)
    whole = []
    for c in range(workload.clients):
        mine = [r for r in records if r.client == c]
        whole += mine[: len(mine) // cycle * cycle]
    return records, whole, max(r.end for r in whole) - start, max(r.end for r in records) - start


def stop_spark(spark) -> None:
    """Stop the session and the JVM the gateway launched, and wait for it."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(workload, records, elapsed, setups, verdict, jvm_rss, report):
    """Metrics over ``records``, the whole rounds of the loop, which
    took ``elapsed`` seconds."""
    from stats import highest_percentile, median, percentile, InsufficientSamples
    from env import peak_rss_mb

    ok = [r for r in records if r.result is not None and r.op_id not in verdict.failures]
    lat = [r.ms for r in ok]
    if not lat:
        raise RuntimeError("no operation succeeded")
    rows_in = sum(r.result.in_rows for r in ok)
    metrics = {
        "setup_s": median(setups),
        "queries_per_s": len(ok) / elapsed,
        "latency_p50_ms": median(lat),
        "rows_per_s": rows_in / elapsed,
    }
    report(f"peak_rss_mb: {peak_rss_mb() + jvm_rss:.1f} MB (benchmark process + Spark JVM)")
    report(f"samples: {len(lat)} operations in {elapsed:.2f} s; setups: {[round(s, 3) for s in setups]}")
    try:
        report(f"latency_p95_ms: {percentile(lat, 95):.3f} ms (n={len(lat)})")
    except InsufficientSamples as e:
        report(f"latency_p95_ms: not reported ({e})")
    tail = highest_percentile(lat)
    if tail:
        report(f"highest supported percentile: p{tail[0]} = {tail[1]:.3f} ms")
    written = sum(r.result.written_bytes for r in ok)
    if written:
        raw = workload.tables["docs"]["bytes"]
        report(f"write_amplification: {written / (raw * len(ok)):.4f} (bytes written / raw input bytes)")
    return metrics


def per_layer(workload, spark, records, elapsed, verdict, tracer, before, after, jvm_rss, report):
    from env import peak_rss_mb
    from spark_metrics import stage_delta
    from stats import median
    from spans import layer_self_times, self_times

    spans = tracer.spans
    selfs = self_times(spans)
    ok = [r for r in records if r.result is not None and r.op_id not in verdict.failures]
    traced = [r for r in ok if r.traced]
    plain = [r for r in ok if not r.traced]
    if not traced or not plain:
        raise RuntimeError("the traced run needs at least one traced and one untraced operation")
    traced_ids = {r.op_id for r in traced}
    n_ops, n_traced = len(ok), len(traced)
    op_spans = [s for s in spans if s.op_id in traced_ids]

    def span_ms(name):
        return sum(s.duration for s in op_spans if s.name == name) * 1000

    setup_spans = [s for s in spans if s.op_id is None]
    gets = [s.duration for s in setup_spans if s.name == "session.get_spark"]
    loads = [s.duration for s in spans if s.name == "sources.load_table"]
    writes = [s.duration for s in op_spans if s.name == "sources.write_table"]
    # outermost plans spans only: a plans span nested in another adds nothing
    by_id = {s.span_id: s for s in spans}
    plans_top = [
        s for s in op_spans if s.layer == "plans" and (s.parent is None or by_id[s.parent].layer != "plans")
    ]
    exports = sum(selfs[s.span_id] for s in op_spans if s.name == "api.query_arrow") + sum(
        s.duration for s in op_spans if s.name == "api.export"
    )
    phases = [r.phases for r in traced if r.phases]
    d = stage_delta(before, after)
    cores = int(spark.sparkContext.defaultParallelism)
    result_rows = sum(r.result.out_rows for r in ok)
    written = sum(r.result.written_bytes for r in ok)
    raw = workload.tables["docs"]["bytes"] if "docs" in workload.tables else 0
    t_med, u_med = median([r.ms for r in traced]), median([r.ms for r in plain])

    m = {
        "process.peak_rss_mb": peak_rss_mb() + jvm_rss,
        "session.get_spark_s": median(gets),
        "sources.load_table_ms": sum(loads) * 1000 / len(loads),
        "sources.input_bytes_per_op": d["input_bytes"] / n_ops,
        "sources.input_rows_per_op": d["input_rows"] / n_ops,
        "sources.rows_examined_per_result_row": d["input_rows"] / max(result_rows, 1),
        "sources.write_table_ms": sum(writes) * 1000 / len(writes) if writes else 0.0,
        "sources.output_bytes": written / n_ops,
        "sources.write_amplification": written / (raw * n_ops) if raw else 0.0,
        "plans.parse_ms": sum(s.duration for s in plans_top if s.name == "plans.parse") * 1000 / n_traced,
        "plans.build_ms": sum(s.duration for s in plans_top if s.name == "plans.build") * 1000 / n_traced,
        "plans.jvm_calls_per_query": sum(s.jvm_calls for s in plans_top) / n_traced,
        "api.export_ms": exports * 1000 / n_traced,
        "api.result_rows": result_rows / n_ops,
        "api.result_bytes": sum(r.result.out_bytes for r in ok) / n_ops,
        "spark.analysis_ms": sum(p.get("analysis", 0) for p in phases) / n_traced,
        "spark.optimization_ms": sum(p.get("optimization", 0) for p in phases) / n_traced,
        "spark.planning_ms": sum(p.get("planning", 0) for p in phases) / n_traced,
        "spark.jobs_per_op": d["jobs"] / n_ops,
        "spark.stages_per_op": d["stages"] / n_ops,
        "spark.tasks_per_op": d["tasks"] / n_ops,
        "spark.executor_run_ms": d["executor_run_ms"] / n_ops,
        "spark.executor_cpu_ms": d["executor_cpu_ms"] / n_ops,
        "spark.busy_ratio": d["executor_run_ms"] / (elapsed * 1000 * cores),
        "spark.shuffle_read_bytes": d["shuffle_read_bytes"] / n_ops,
        "spark.shuffle_write_bytes": d["shuffle_write_bytes"] / n_ops,
        "spark.spill_bytes": d["spill_bytes"] / n_ops,
        "spark.gc_ms": d["gc_ms"] / n_ops,
        "spark.failed_tasks": d["failed_tasks"],
        "operators.exact_dedup_ms": span_ms("operators.exact_dedup") / n_traced,
        "operators.minhash_dedup_ms": span_ms("operators.minhash_dedup") / n_traced,
        "operators.cosine_topk_ms": span_ms("operators.cosine_topk") / n_traced,
        "operators.minhash_signature_ms": 0.0,
        "operators.lsh_candidate_pairs": 0,
        "operators.lsh_verified_pairs": 0,
        "operators.lsh_precision": 0.0,
        "workload.repeat_share": verdict.notes.get("repeat_share", 0.0),
        "trace.overhead_ms": t_med - u_med,
        "trace.overhead_pct": (t_med - u_med) / u_med * 100,
    }
    layer_self = layer_self_times(op_spans)
    for layer in ("bench", "sources", "plans", "api", "operators"):
        m[f"self.{layer}_ms"] = layer_self.get(layer, 0.0) * 1000 / n_traced
    m.update(workload.trace_counters(spark, tracer))
    report(f"traced ops: {n_traced}, untraced ops: {len(plain)}, spans: {len(spans)}")
    report(f"latency p50 traced {t_med:.3f} ms vs untraced {u_med:.3f} ms")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="warpdb_spark seeded benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import_engine()
    except ImportError as e:
        print(f"cannot import the engine from the checkout: {e}", file=sys.stderr)
        return 2

    import gen
    from env import cpu_times, peak_rss_mb, record as env_record, steal_share
    from spans import Patches, Tracer, install_engine_spans
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    def report(line: str) -> None:
        print(line, flush=True)

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # the environment variable overrides spark.local.dir, so set it here
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

    phase_s = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phase_s[name] = round(now - t_phase, 2)
        t_phase = now

    manifest = gen.generate(args.workload, args.seed, os.path.join(work, "inputs"))
    phase("generate")
    for name, t in manifest["tables"].items():
        report(f"input {name}: {t['rows']} rows, {t['bytes']} bytes")
    workload = WORKLOADS[args.workload](manifest, args.seed, work)

    from warpdb_spark import session

    extra = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.hadoop.hadoop.tmp.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        extra.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    tracer = Tracer()
    patches = Patches(tracer)
    spark = None
    try:
        if args.trace:
            install_engine_spans(patches)
        setups = []
        for _ in range(SETUP_REPEATS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            with tracer.enabled(bool(args.trace)):
                spark = session.get_spark("perfbench", extra_conf=extra)
                workload.setup(spark, tracer)
            setups.append(time.perf_counter() - t0)
        phase("setup")
        workload.prime(tracer)
        phase("prime")
        env = env_record(spark, ROOT, args.seed)
        report("env " + json.dumps(env, sort_keys=True))
        if env["spark.driver.memory"] and env["spark.driver.memory"].endswith("g"):
            if int(env["spark.driver.memory"][:-1]) * 1024 > env["total_ram_mb"]:
                report(f"note: driver heap {env['spark.driver.memory']} exceeds total RAM {env['total_ram_mb']} MB")

        before = None
        if args.trace:
            from spark_metrics import RestStatus

            rest = RestStatus(spark)
            patches.count_jvm_calls(spark.sparkContext._gateway._gateway_client)
            before = rest.snapshot()
        cpu0 = cpu_times()
        records, whole, whole_s, loop_s = closed_loop(workload, args.seconds, tracer, bool(args.trace))
        report(f"cpu steal during the loop: {steal_share(cpu0, cpu_times()):.1%}")
        after = rest.snapshot() if args.trace else None
        jvm_pid = spark.sparkContext._gateway.proc.pid
        jvm_rss = peak_rss_mb(jvm_pid)

        phase("loop")
        verdict = workload.verify([(r.op_id, r.result) for r in records if r.result is not None])
        phase("verify")
        for op_id, why in sorted(verdict.failures.items()):
            print(f"ORACLE MISMATCH op {op_id}: {why}", file=sys.stderr)
        for k, v in verdict.notes.items():
            report(f"{k}: {v}")

        if args.trace:
            metrics = per_layer(workload, spark, records, loop_s, verdict, tracer, before, after, jvm_rss, report)
            out_dir = os.path.join(ROOT, ".perfbench", "results")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"), "w") as f:
                for s in tracer.spans:
                    f.write(json.dumps(asdict(s)) + "\n")
        else:
            metrics = end_to_end(workload, whole, whole_s, setups, verdict, jvm_rss, report)
    finally:
        patches.restore()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    phase("report+stop")
    report("phase seconds " + json.dumps(phase_s))

    units = PER_LAYER if args.trace else END_TO_END
    if metrics.keys() != units.keys():
        raise RuntimeError(f"metric set drifted from its declaration: {sorted(metrics.keys() ^ units.keys())}")
    failed = sum(1 for r in records if r.result is None or r.op_id in verdict.failures)
    report(f"error_rate: {failed / len(records):.4f} ({failed}/{len(records)})")
    for name, value in metrics.items():
        report(f"{name}: {value:.6g} {units[name]}")
    result = {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {name: {"value": value, "unit": units[name]} for name, value in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
