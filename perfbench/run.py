"""Benchmark entry point.

    python3 perfbench/run.py --workload kafsql --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It generates the inputs from ``--seed``,
starts Spark at local[nproc], sets the workload up, runs one closed-loop
client for whole op cycles, about ``--seconds`` in all, checks every
op's output, and prints a report followed by one JSON line: the
end-to-end metrics of ``BENCHMARK.json`` (``--trace 0``) or its per-layer
metrics from a traced run (``--trace 1``).
Everything it writes lives under ``.perfbench_runs/`` in the checkout and
is removed on exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _spark_env(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the run dir,
    and size the session: local[nproc], a driver heap that leaves room for
    other tenants."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # HotSpot writes its perf-data file to /tmp whatever the tmpdir; the
    # launcher JVM takes this, the driver JVM gets it in _spark_conf
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"


def _spark_conf(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Dderby.system.home={tmp}",
    }


def _stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for all
    of them to exit."""
    import procs
    from pyspark import SparkContext

    kids = procs.descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    procs.wait_gone(kids)


def _install_tracing(tr, wl_name: str) -> None:
    from platform_spark import governance
    from platform_spark.sql import compiler, engine, parser
    from platform_spark.topics import TopicCatalog

    if wl_name == "kafsql":
        tr.wrap(parser, "parse", "parser.parse")
        tr.wrap(engine, "estimate_scan", "governance.estimate_scan")
        tr.wrap(governance.ScanBudget, "check", "governance.budget_check")
        tr.wrap(governance.ResultCache, "lookup", "governance.cache_lookup", note=lambda r: r[0])
        tr.wrap(compiler.Compiler, "compile", "compiler.compile")
        tr.wrap(TopicCatalog, "topic", "topics.topic")
        tr.wrap(engine.KafSqlEngine, "sql", "engine.sql")
        tr.wrap(engine.KafSqlEngine, "collect_with_timeout", "engine.collect_with_timeout")
    else:
        from platform_spark.llmdata import clusters
        from platform_spark.streaming.ingest import TopicWriter

        tr.wrap(TopicWriter, "append", "ingest.append")
        tr.wrap(TopicWriter, "read", "ingest.read")
        tr.wrap(TopicWriter, "compact", "ingest.compact")
        tr.wrap(clusters, "dedup_clusters_fast", "llmdata.dedup_clusters_fast")


def _layer_metrics(tr, wl, ops: list[int], op_s: list[float], spark_ops: list[dict],
                   result_rows: int, cores: int, peak_rss: int) -> dict[str, float]:
    """Per-layer metrics of a traced run; 0 for layers the workload does
    not exercise."""
    from tracing import wrapper_cost_s

    selft = tr.self_times()
    calls = tr.calls()
    durs: dict[tuple[int | None, str], float] = {}
    notes: dict[int | None, list] = {}
    for sp in tr.spans:
        durs[(sp.op, sp.name)] = durs.get((sp.op, sp.name), 0.0) + sp.end - sp.start
        if sp.note is not None:
            notes.setdefault(sp.op, []).append(sp.note)
    n = max(1, len(ops))

    def per_op_ms(table, *names: str) -> float:
        return 1000 * sum(table.get((i, x), 0.0) for i in ops for x in names) / n

    def n_calls(name: str) -> int:
        return sum(calls.get((i, name), 0) for i in ops)

    def per_call_ms(name: str) -> float:
        c = n_calls(name)
        return 1000 * sum(durs.get((i, name), 0.0) for i in ops) / c if c else 0.0

    states = [s for i in ops for s in notes.get(i, [])]
    hit_ops = [i for i in ops if "rows" in notes.get(i, [])]
    op_total = sum(durs.get((i, "op"), 0.0) for i in ops)
    op_self = sum(selft.get((i, "op"), 0.0) for i in ops)
    spans_per_op = sum(1 for sp in tr.spans if sp.op in set(ops)) / n
    tot = {k: sum(s[k] for s in spark_ops) for k in spark_ops[0]} if spark_ops else {}
    sn = max(1, len(spark_ops))
    io = getattr(wl, "io", None)
    dedup_rows = [
        len(e["clusters"]) for e in wl.log if e["i"] >= 0 and e["kind"] == "dedup"
    ] if io else []
    m = {
        "parser.parse_ms": per_op_ms(selft, "parser.parse"),
        "governance.budget_ms": per_op_ms(
            selft, "governance.budget_check", "governance.estimate_scan"
        ),
        "governance.cache_cold": states.count("cold"),
        "governance.cache_warm": states.count("warm"),
        "governance.cache_rows": states.count("rows"),
        "governance.cache_hit_ratio": states.count("rows") / len(states) if states else 0.0,
        "governance.hit_collect_ms": (
            1000 * sum(selft.get((i, "engine.execute"), 0.0) for i in hit_ops) / len(hit_ops)
            if hit_ops
            else 0.0
        ),
        "topics.topic_frame_ms": per_op_ms(selft, "topics.topic"),
        "topics.topic_frame_calls": n_calls("topics.topic") / n,
        "compiler.compile_ms": per_op_ms(selft, "compiler.compile"),
        "engine.sql_ms": per_op_ms(selft, "engine.sql"),
        "engine.execute_ms": per_op_ms(selft, "engine.execute", "engine.collect_with_timeout"),
        "spark.jobs_per_op": tot.get("jobs", 0) / sn,
        "spark.stages_per_op": tot.get("stages", 0) / sn,
        "spark.tasks_per_op": tot.get("tasks", 0) / sn,
        "spark.executor_run_ms_per_op": tot.get("run_ms", 0) / sn,
        "spark.executor_cpu_ms_per_op": tot.get("cpu_ms", 0) / sn,
        "spark.shuffle_bytes_per_op": tot.get("shuffle_bytes", 0) / sn,
        "spark.input_rows_per_result_row": tot.get("input_rows", 0) / max(1, result_rows),
        "spark.slot_utilization": tot.get("run_ms", 0) / max(1e-9, 1000 * sum(op_s) * cores),
        "spark.single_task_stage_share": (
            tot.get("single_task_stages", 0) / tot["stages"] if tot.get("stages") else 0.0
        ),
        "spark.gc_ms_per_op": tot.get("gc_ms", 0) / sn,
        "ingest.append_ms": per_call_ms("ingest.append"),
        "ingest.readback_ms": per_call_ms("ingest.readback"),
        "ingest.compact_ms": per_call_ms("ingest.compact"),
        "ingest.files_per_partition_max": io["files_max"] if io else 0,
        "ingest.write_amplification": (
            (io["append_bytes"] + io["compact_bytes"]) / io["append_bytes"]
            if io and io["append_bytes"]
            else 0.0
        ),
        "ingest.space_amplification": (
            wl.disk_bytes() / io["record_bytes"] if io and io["record_bytes"] else 0.0
        ),
        "dedup.clusters_fast_ms": per_call_ms("dedup.clusters_fast"),
        "dedup.rows_out": statistics.mean(dedup_rows) if dedup_rows else 0.0,
        "mem.peak_rss_mb": peak_rss / 2**20,
        "trace.op_latency_p50_ms": 1000 * statistics.median(op_s) if op_s else 0.0,
        "trace.layer_coverage": 1 - op_self / op_total if op_total else 0.0,
        "trace.overhead_ms_per_op": 1000 * wrapper_cost_s() * spans_per_op,
    }
    return m


def bench(args, run_dir: str) -> tuple[dict, dict]:
    sys.path.insert(0, ROOT)
    import data
    import procs
    from tracing import SparkAccounting, Tracer
    from workloads import NO_TRACE, WORKLOADS

    from platform_spark.session import get_spark

    data_dir = os.path.join(run_dir, "data")
    data.write_inputs(data_dir, args.seed, WORKLOADS[args.workload].inputs)
    spark = get_spark("perfbench", extra_conf=_spark_conf(run_dir))
    try:
        ready_s = time.perf_counter() - T_START
        cores = spark.sparkContext.defaultParallelism
        tr = Tracer() if args.trace else NO_TRACE
        wl = WORKLOADS[args.workload](spark, run_dir, data_dir, args.seed, tr)
        t0 = time.perf_counter()
        wl.prepare()
        prep_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warmup()
        warm_s = time.perf_counter() - t0

        acct = None
        if args.trace:
            _install_tracing(tr, args.workload)
            acct = SparkAccounting(spark)
        lat: list[float] = []
        spark_ops: list[dict] = []
        failed: set[int] = set()
        rows = 0
        i = 0
        # the traced run samples the tree's memory; the untraced run adds
        # no thread of its own. The clock stops at the end of a whole op
        # cycle, so every run weighs the cycle's op kinds alike and
        # throughput does not depend on where the deadline falls. A new
        # cycle starts only if, at the mean cycle time so far, it ends
        # within half a cycle of --seconds: the timed region stays near
        # --seconds however long a cycle is. Every run times at least two
        # cycles, so a slow host does not leave a run with only the first
        # cycle after the warm-up.
        with procs.RssSampler() if args.trace else contextlib.nullcontext() as rss:
            t_begin = time.perf_counter()
            setup_s = t_begin - T_START
            while True:
                cycles, pos = divmod(i, len(wl.CYCLE))
                elapsed = time.perf_counter() - t_begin
                if not pos and cycles >= 2 and elapsed * (1 + 0.5 / cycles) > args.seconds:
                    break
                tr.op = i
                mark = acct.mark() if acct else None
                t0 = time.perf_counter()
                try:
                    with tr.span("op"):
                        rows += wl.op(i)
                except Exception as e:  # noqa: BLE001 — a failed op is a result
                    print(f"# op {i} failed: {type(e).__name__}: {e}", file=sys.stderr)
                    failed.add(i)
                lat.append(time.perf_counter() - t0)
                if acct:
                    spark_ops.append(acct.between(mark, acct.mark()))
                wl.between_ops(i)
                i += 1
            wall = time.perf_counter() - t_begin
        if args.trace:
            tr.restore()
        ops = list(range(i))
        layers = (
            _layer_metrics(tr, wl, ops, lat, spark_ops, rows, cores, rss.peak_bytes)
            if args.trace
            else {}
        )
        t0 = time.perf_counter()
        failed |= wl.check()
        check_s = time.perf_counter() - t0
    finally:
        t0 = time.perf_counter()
        _stop_spark(spark)
        stop_s = time.perf_counter() - t0

    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": 1000 * statistics.median(lat),
        "ops_per_s": len(lat) / wall,
        "rows_per_s": rows / wall,
    }
    report = {
        "ops": len(lat),
        # a wrong warm-up op makes the run incorrect but is not an attempt
        "failed": len({i for i in failed if i >= 0}),
        "correct": not failed,
        "lat": lat,
        "phases": {"ready": ready_s, "prepare": prep_s, "warmup": warm_s, "timed": wall,
                   "check": check_s, "stop": stop_s},
    }
    return {"e2e": e2e, "layers": layers}, report


def main(argv: list[str] | None = None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "platform_spark")):
        print(f"no platform_spark package under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, HERE)
    import stats

    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        _spark_env(run_dir)
        res, rep = bench(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = os.path.dirname(run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    n = rep["ops"]
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace} "
          f"ops={n} failed={rep['failed']} error_rate={rep['failed'] / max(1, n):.4f}")
    ph = rep["phases"]
    print(f"# phases (s): ready {ph['ready']:.2f}, prepare {ph['prepare']:.2f}, "
          f"warm-up {ph['warmup']:.2f}, timed {ph['timed']:.2f}, "
          f"check {ph['check']:.2f}, stop {ph['stop']:.2f}")
    ms = sorted(x * 1000 for x in rep["lat"])
    print("# op latency (ms): " + (
        " ".join(f"{x:.0f}" for x in ms) if n <= 12
        else f"min {ms[0]:.0f} quartiles " + "/".join(
            f"{q:.0f}" for q in statistics.quantiles(ms, n=4)) + f" max {ms[-1]:.0f}"
    ))
    metrics_spec = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res["layers"] if args.trace else res["e2e"]
    for m in metrics_spec:
        print(f"# {m['name']:<34} {values[m['name']]:>14.4f} {m['unit']:<6} (n={n})")
    if not args.trace:  # tail percentiles only where the sample count holds
        for q in (90, 99):
            p = stats.percentile([x * 1000 for x in rep["lat"]], q)
            shown = f"{p:.4f} ms" if p is not None else (
                f"not reported: needs >= {stats.min_samples(q)} ops"
            )
            print(f"# {f'latency_p{q}_ms':<34} {shown} (n={n})")
    out = {
        "correct": rep["correct"],
        "attempted": n,
        "failed": rep["failed"],
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in metrics_spec
        },
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
