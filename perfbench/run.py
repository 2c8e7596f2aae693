"""End-to-end benchmark of the POS ETL engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads (see perfbench/README.md):
``daily_incremental``, ``corpus_curation``.

One driver process on ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs
this process may use); the load is a closed loop of cycles, each cycle
starting when the previous one has ended. The run sets up (session
start, input staging, preload, warm-up), then runs cycles for
``--seconds`` of measured time and at least the workload's
``min_cycles``, then checks every output against its oracle. Human-readable metric
lines go to stdout; the last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run records spans around every public call and the
Spark REST metrics of each span, reports the per-layer metrics, and
writes the spans to ``.perfbench_out/trace_<workload>_<seed>.json``.
The exit code is 1 when the correctness gate fails or an operation
failed, 2 when the checkout is incomplete.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import time
import traceback

PKG = "amante_s_supabase_full_cloud_etl_pipeline_spark"
WORKLOADS = ("daily_incremental", "corpus_curation")
HERE = os.path.dirname(os.path.abspath(__file__))
#: a run must end within 180 s; past this, the current operation fails
#: and the run goes straight to stopping the session
DEADLINE_S = 150


class Ctx:
    """Run-wide state handed to the workload: session, tracer, work
    dir, seed and the operation counters."""

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.attempted: dict[str, int] = {}
        self.scan_counts: list[tuple[int, int]] = []

    def attempt(self, kind: str) -> None:
        self.attempted[kind] = self.attempted.get(kind, 0) + 1


def _env(root: str, work: str) -> None:
    """Keep every file the run writes inside the checkout, and run Spark
    on the CPUs this process may use with a 1 GB driver heap (both
    overridable from the environment). With the package's 12 GB default
    the heap grows with GC timing, not with the data: the JVM's peak
    resident size then varied by a quarter between seeds, and
    peak_rss_mb could not resolve a memory change."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        [
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            # -UsePerfData: no hsperfdata file under /tmp
            "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "pyspark-shell",
        ]
    )
    for p in (HERE, root):
        if p not in sys.path:
            sys.path.insert(0, p)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and so its Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _per_layer(ctx, cycles, snap) -> dict:
    from probes import median, spark_metrics

    spans = ctx.tracer.spans
    marks = [c["span_mark"] for c in cycles] + [len(spans)]
    per = [spans[marks[i] : marks[i + 1]] for i in range(len(cycles))]

    def per_cycle(name, value):
        return median([sum(value(s) for s in cs if s["name"] == name) for cs in per])

    def dur(name):
        return per_cycle(name, lambda s: s["end"] - s["start"])

    def attr(name, key):
        return per_cycle(name, lambda s: s["attrs"].get(key, 0))

    def total(name, key=None):
        return sum(
            (s["attrs"].get(key, 0) if key else s["end"] - s["start"])
            for s in spans[marks[0] :]
            if s["name"] == name
        )

    def ratio(a, b):
        return a / b if b else 0.0

    commits = [c.get("commit", {}) for c in cycles]
    csum = {k: sum(c.get(k, 0) for c in commits) for k in ("dropped", "parent_live", "rows_written", "rows_net")}
    m = {
        "xlsx.convert_s": dur("xlsx.convert"),
        "xlsx.rows_per_s": ratio(total("xlsx.convert", "rows"), total("xlsx.convert")),
        "pipeline.drain_s": dur("pipeline.drain"),
        "pipeline.batches": attr("pipeline.drain", "batches"),
        "pipeline.addBatch_ms": attr("pipeline.drain", "addBatch_ms"),
        "pipeline.overhead_ms": attr("pipeline.drain", "overhead_ms"),
        "pipeline.source_reads_per_row": ratio(
            total("pipeline.drain", "input_rows"), total("pipeline.drain", "landed_rows")
        ),
        "pos_kernel.transform_s": dur("pos_kernel.transform"),
        "pos_kernel.line_items": attr("pos_kernel.transform", "line_items"),
        "pos_kernel.distinct_tokens": attr("pos_kernel.transform", "distinct_tokens"),
        "validate.clean_rows": attr("pos_kernel.transform", "clean_rows"),
        "validate.quarantine_rows": attr("pos_kernel.transform", "quarantine_rows"),
        "validate.reprocess_s": dur("validate.reprocess"),
        "validate.promoted_rows": attr("validate.reprocess", "promoted_rows"),
        "table_format.merge_s": dur("table_format.merge"),
        "table_format.merge_calls": per_cycle("table_format.merge", lambda s: 1),
        "table_format.commits": median([c.get("commits", 0) for c in commits]),
        "table_format.files_rewritten_frac": ratio(csum["dropped"], csum["parent_live"]),
        "table_format.rows_rewritten_per_row": ratio(csum["rows_written"], csum["rows_net"]),
        "table_format.bytes_written": median([c.get("bytes_written", 0) for c in commits]),
        "table_format.read_s": dur("table_format.read"),
        "table_format.files_scanned_frac": ratio(
            sum(a for a, _ in ctx.scan_counts), sum(b for _, b in ctx.scan_counts)
        ),
        "materialized.refresh_s": dur("materialized.refresh"),
        "materialized.change_rows": attr("materialized.refresh", "change_rows"),
        "star.resolve_s": dur("star.resolve"),
        "star.dim_miss_rows": attr("star.resolve", "dim_miss_rows"),
    }
    from curation import ROWS

    for row in ROWS:
        m[f"curation.{row}_s"] = dur(f"curation.{row}")
    per_cycle_spark = [spark_metrics(snap, c["t"][0], c["t"][1]) for c in cycles]
    for k in per_cycle_spark[0]:
        m[k] = median([p[k] for p in per_cycle_spark])
    for s in spans:
        s["spark"] = spark_metrics(snap, s["start"], s["end"])
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, PKG)) and os.path.isfile(os.path.join(root, "bench.py"))):
        print(f"perfbench: {root} is not a checkout of the engine ({PKG}/ and bench.py missing)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    _env(root, work)

    def _expired(_signum, _frame):
        raise TimeoutError(f"run passed its {DEADLINE_S} s deadline")

    signal.signal(signal.SIGALRM, _expired)
    signal.alarm(DEADLINE_S)
    t_setup = time.perf_counter()
    from pyspark import SparkContext

    from amante_s_supabase_full_cloud_etl_pipeline_spark.session import get_spark

    import curation
    import pos
    from probes import SparkRest, Tracer, median, mix_median, tail, vm_hwm_mb

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    ctx = Ctx(spark, Tracer(bool(args.trace)), work, args.seed)
    workload = {
        "daily_incremental": pos.DailyIncremental,
        "corpus_curation": curation.CorpusCuration,
    }[args.workload](ctx)
    failed, cycles, checks, layers = 0, [], {}, {}
    setup_s = peak_rss_mb = 0.0
    t_gate = t_stop = None
    try:
        try:
            workload.setup()
        except Exception:
            traceback.print_exc()
            failed += 1
        setup_s = time.perf_counter() - t_setup
        ctx.tracer.spans.clear()
        measured = 0.0
        while not failed and (measured < args.seconds or len(cycles) < workload.min_cycles):
            mark, t0 = len(ctx.tracer.spans), time.time()
            try:
                rec = workload.cycle()
            except Exception:
                traceback.print_exc()
                failed += 1
                break
            rec["span_mark"], rec["t"] = mark, (t0, rec["t_end"])
            cycles.append(rec)
            measured += rec["busy_s"]
        t_gate = time.perf_counter()
        # peak memory of the program, before the gate's oracles run
        jvm = getattr(SparkContext._gateway, "proc", None)
        peak_rss_mb = vm_hwm_mb(os.getpid()) + (vm_hwm_mb(jvm.pid) if jvm else 0.0)
        if not failed:
            try:
                checks = workload.check()
            except Exception:
                traceback.print_exc()
                checks = {"gate_ran": False}
        if args.trace and cycles:
            layers = _per_layer(ctx, cycles, SparkRest(spark).snapshot())
        t_stop = time.perf_counter()
    except TimeoutError:
        traceback.print_exc()
        failed += 1
    finally:
        signal.alarm(0)
        _stop(spark)
    t_end = time.perf_counter()
    t_gate, t_stop = t_gate or t_end, t_stop or t_end
    phases = (
        f"setup {setup_s:.1f} s, cycles {t_gate - t_setup - setup_s:.1f} s, "
        f"gate {t_stop - t_gate:.1f} s, stop {t_end - t_stop:.1f} s"
    )

    attempted = sum(ctx.attempted.values())
    correct = bool(checks) and all(checks.values()) and not failed
    walls = [c["wall_s"] for c in cycles]
    queries = [q for c in cycles for q in c["queries"]]  # (kind, seconds)
    latencies = [t for _kind, t in queries]
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (median(walls), "s"),
        "query_p50_s": (mix_median(queries), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    pct, q_tail = tail(latencies)
    extra = {"failed_frac": (failed / max(attempted, 1), "fraction")}
    if cycles:
        extra.update(workload.extra_metrics(cycles))
    print(f"workload={args.workload} seed={args.seed} cycles={len(cycles)} "
          f"queries={len(queries)} attempted={attempted} failed={failed}")
    print(f"  phases: {phases}")
    for k, (v, unit) in {**e2e, **extra}.items():
        print(f"  {k:<16} {v:12.4f} {unit}")
    print(f"  wall_s samples={len(walls)}: {' '.join(f'{w:.3f}' for w in walls)} s")
    print(f"  query samples={len(queries)} p{pct:.0f}={q_tail:.4f} s (query_p90_s needs >= 100 samples)")
    for k, v in checks.items():
        print(f"  check {k}: {'ok' if v else 'FAILED'}")

    if args.trace:
        layers["trace.wall_s"] = median(walls)
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace_{args.workload}_{args.seed}.json"), "w") as f:
            json.dump(
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "end_to_end": {k: v for k, (v, _u) in {**e2e, **extra}.items()},
                    "per_layer": layers,
                    "checks": checks,
                    "spans": ctx.tracer.spans,
                },
                f,
                indent=1,
            )
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)["per_layer"]
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]} for m in spec}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
