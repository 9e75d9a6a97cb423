"""Pipeline benchmark: one workload, one seed, one process, one client.

    python3 pipebench/run.py --workload strain_load --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run generates its inputs from the
seed, starts one Spark session (``local[<cores>]``), runs an untimed
priming or verification pass, then runs timed passes of the workload's
operations until ``--seconds`` have passed (at least ``MIN_PASSES``),
checking outputs after every pass outside the timed region.  With
``--trace 0`` it reports the end-to-end metrics; with ``--trace 1`` it
tags every call into a layer with a Spark job group and reports the
per-layer metrics read back from the in-JVM status store.

Everything the run writes (inputs, Spark local dirs, TMPDIR, warehouse,
outputs, registry scan stores) lives in its own directory under
``.pipebench/runs/``, removed at exit; a JSON run record is kept under
``.pipebench/records/``.  The last line of stdout is one JSON object.
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

ENGINE = "variant_load_pipeline_spark"
DRIVER_MEMORY = "2g"
MIN_PASSES = 2
WORKLOADS = ("strain_load", "transcript_annotate", "registry_queries")


def prepare_env(root: str, run_dir: str) -> None:
    """Point every scratch location of the session at the run directory.
    Must run before the JVM starts."""
    for sub in ("spark-local", "tmp", "warehouse", "scan"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    for var in ("TMPDIR", "TEMP", "TMP"):
        os.environ[var] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    # every JVM of the run (launcher and driver): temp files in the run
    # directory, no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    if root not in sys.path:
        sys.path.insert(0, root)


def start_session(run_dir: str):
    """The engine's own session factory, with run-local scratch paths."""
    from variant_load_pipeline_spark.session import get_spark

    return get_spark(app_name="pipebench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })


def stop_session(spark) -> None:
    """Stop the context, then close the JVM gateway and wait for the JVM
    (and the PySpark daemon it owns) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap_descendants(timeout: float = 20.0) -> None:
    """Kill and wait out any process this run left behind."""
    from spans import _processes, descendants

    deadline = time.time() + timeout
    while left := descendants(_processes(), os.getpid()):
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        if time.time() > deadline:
            return
        time.sleep(0.1)


# name, unit, better: every per-layer metric a traced run prints, on every
# workload (a layer the workload does not reach reads 0)
PER_LAYER = [
    ("pass.wall_s", "s", "lower"),
    ("pass.throughput", "items/s", "higher"),
    ("session.start_s", "s", "lower"),
    ("convert.s", "s", "lower"),
    ("convert.cpu_s", "s", "lower"),
    ("convert.vcf_scan_s", "s", "lower"),
    ("convert.rows_out", "count", "higher"),
    ("convert.bytes_out", "bytes", "lower"),
    ("convert.jobs", "count", "lower"),
    ("load.s", "s", "lower"),
    ("load.construct_s", "s", "lower"),
    ("load.construct_jobs", "count", "lower"),
    ("load.jobs", "count", "lower"),
    ("load.cpu_s", "s", "lower"),
    ("load.shuffle_bytes", "bytes", "lower"),
    ("load.spill_bytes", "bytes", "lower"),
    ("load.rows_out", "count", "higher"),
    ("load.cf2_scans", "count", "lower"),
    ("upsert.reused_frac", "ratio", "higher"),
    ("annotate.s", "s", "lower"),
    ("annotate.construct_s", "s", "lower"),
    ("annotate.construct_jobs", "count", "lower"),
    ("annotate.pairs", "count", "higher"),
    ("annotate.kernel_s", "s", "lower"),
    ("annotate.kernel_tasks", "count", "higher"),
    ("annotate.kernel_busy_frac", "ratio", "higher"),
    ("annotate.python_bytes_in", "bytes", "lower"),
    ("annotate.python_bytes_out", "bytes", "lower"),
    ("annotate.python_cpu_s", "s", "lower"),
    ("annotate.shuffle_bytes", "bytes", "lower"),
    ("queries.construct_s", "s", "lower"),
    ("queries.construct_jobs", "count", "lower"),
    ("queries.execute_s", "s", "lower"),
    ("queries.jobs", "count", "lower"),
    ("queries.cpu_s", "s", "lower"),
    ("queries.shuffle_bytes", "bytes", "lower"),
    ("queries.spill_bytes", "bytes", "lower"),
    ("jvm.gc_s", "s", "lower"),
    ("jvm.rss_peak_mb", "MiB", "lower"),
    ("python.cpu_s", "s", "lower"),
    ("host.steal_frac", "ratio", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
]


# ---------------------------------------------------------------------------
def _sum(spans, key):
    return float(sum(s.stats.get(key, 0) for s in spans))


def layer_metrics(spans, cores: int) -> dict[str, float]:
    """Per-layer numbers of one pass from its finished spans.  A layer's
    operation spans are the CLI calls or registry queries of that layer;
    construct spans wrap the lazy plan builders inside them."""

    def rooted(layer):
        return [s for s in spans if s.root.layer == layer]

    def ops(layer):
        return [s for s in spans if s.parent is None and s.layer == layer]

    def construct(layer_spans):
        # outermost construct spans only, so nested builders count once
        return [s for s in layer_spans if s.phase == "construct"
                and (s.parent is None or s.parent.phase != "construct")]

    m: dict[str, float] = {}

    conv = rooted("convert")
    m["convert.s"] = sum(s.wall_s for s in ops("convert"))
    m["convert.cpu_s"] = _sum(conv, "cpu_ns") / 1e9
    m["convert.vcf_scan_s"] = sum(x["run_s"] for s in conv for x in s.stats["stages"]
                                  if x["input_bytes"] > 0)
    m["convert.rows_out"] = _sum(conv, "output_rows")
    m["convert.bytes_out"] = _sum(conv, "output_bytes")
    m["convert.jobs"] = _sum(conv, "jobs")

    load = rooted("load")
    load_c = [s for s in load if s.phase == "construct"]
    m["load.s"] = sum(s.wall_s for s in ops("load"))
    m["load.construct_s"] = sum(s.wall_s for s in construct(load))
    m["load.construct_jobs"] = _sum(load_c, "jobs")
    m["load.jobs"] = _sum(load, "jobs")
    m["load.cpu_s"] = _sum(load, "cpu_ns") / 1e9
    m["load.shuffle_bytes"] = _sum(load, "shuffle_write_bytes")
    m["load.spill_bytes"] = _sum(load, "spill_bytes")
    m["load.rows_out"] = _sum(load, "output_rows")
    n_loads = len(ops("load"))
    m["load.cf2_scans"] = _sum(load, "csv_scans") / n_loads if n_loads else 0.0

    # the annotate layer: VariantPostProcessing calls, and registry queries
    # whose construction calls annotate_variants (p29)
    ann_roots = {s.root.group for s in spans if s.layer == "annotate"}
    ann = [s for s in spans if s.root.group in ann_roots]
    ann_c = [s for s in spans if s.layer == "annotate" and s.phase == "construct"]
    kernel = [x for s in ann for x in s.stats["stages"]
              if x["id"] in s.stats["python_stage_ids"]]
    kernel_wall = sum(x["wall_s"] for x in kernel)
    m["annotate.s"] = sum(s.wall_s for s in spans if s.group in ann_roots)
    m["annotate.construct_s"] = sum(s.wall_s for s in ann_c)
    m["annotate.construct_jobs"] = _sum(ann_c, "jobs")
    m["annotate.pairs"] = _sum(ann, "python_rows")
    m["annotate.kernel_s"] = kernel_wall
    m["annotate.kernel_tasks"] = float(sum(x["tasks"] for x in kernel))
    m["annotate.kernel_busy_frac"] = (
        sum(x["run_s"] for x in kernel) / (kernel_wall * cores) if kernel_wall else 0.0)
    m["annotate.python_bytes_in"] = _sum(ann, "python_bytes_in")
    m["annotate.python_bytes_out"] = _sum(ann, "python_bytes_out")
    m["annotate.python_cpu_s"] = sum(s.cpu.python_workers for s in spans
                                     if s.group in ann_roots)
    m["annotate.shuffle_bytes"] = _sum(ann, "shuffle_write_bytes")

    q = rooted("queries")
    q_construct = sum(s.wall_s for s in construct(q))
    m["queries.construct_s"] = q_construct
    m["queries.construct_jobs"] = _sum([s for s in q if s.phase == "construct"], "jobs")
    m["queries.execute_s"] = sum(s.wall_s for s in ops("queries")) - q_construct
    m["queries.jobs"] = _sum(q, "jobs")
    m["queries.cpu_s"] = _sum(q, "cpu_ns") / 1e9
    m["queries.shuffle_bytes"] = _sum(q, "shuffle_write_bytes")
    m["queries.spill_bytes"] = _sum(q, "spill_bytes")
    return m


# ---------------------------------------------------------------------------
def run(args, root: str, run_dir: str, state: dict) -> tuple[dict, dict]:
    from spans import Tracer, host_cpu, jvm_pid, process_age_s, rss_peak_mb, tree_cpu

    prepare_env(root, run_dir)
    spark = state["spark"] = start_session(run_dir)
    setup_main = process_age_s()

    import gen
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    inputs = os.path.join(run_dir, "input")
    manifest = gen.GENERATORS[args.workload](args.seed, inputs)
    gen_s = time.perf_counter() - t0

    import variant_load_pipeline_spark.queries_ext as qx

    scan_root = os.path.join(run_dir, "scan")
    # registry stores and fixtures would land under a fixed /tmp prefix
    qx._scan_path = lambda sf_dir, name: os.path.join(scan_root, name)

    tracer = Tracer(spark, enabled=bool(args.trace))
    if tracer.enabled:
        from variant_load_pipeline_spark.plans import convert, load, postprocess

        tracer.wrap(convert, "convert_vcf_to_cf2", "convert")
        tracer.wrap(load, "run_load", "load")
        tracer.wrap(postprocess, "annotate_variants", "annotate")
    wl = WORKLOADS[args.workload](spark, tracer, inputs, os.path.join(run_dir, "out"),
                                  manifest, args.seed)
    ops = wl.ops()
    cores = len(os.sched_getaffinity(0))
    jpid = jvm_pid()
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "cores": cores, "setup_main_s": setup_main,
              "gen_s": gen_s, "manifest": manifest,
              "passes": [], "problems": []}
    attempted = failed = 0

    def fail(pass_no, problems):
        record["problems"].extend({"pass": pass_no, "op": op, "problem": p}
                                  for op, p in problems)
        return len({op for op, _ in problems})

    def one_pass(pass_no: int) -> dict:
        nonlocal attempted, failed
        first_span = len(tracer.spans)
        cpu0, (st0, tot0) = tree_cpu(), host_cpu()
        gc0 = tracer.jvm_gc_s() if tracer.enabled else 0.0
        overhead0 = tracer.overhead_s
        times, errors = {}, []
        for layer, name, fn in ops:
            with tracer.span(layer, name):
                t = time.perf_counter()
                try:
                    fn()
                except Exception as ex:  # a failed operation is counted, not fatal
                    errors.append((name, f"{type(ex).__name__}: {str(ex)[:300]}"))
                times[name] = time.perf_counter() - t
        cpu = tree_cpu() - cpu0
        st1, tot1 = host_cpu()
        rec = {"pass": pass_no, "wall_s": sum(times.values()), "ops_s": times,
               "cpu_s": cpu.total, "cpu_driver_s": cpu.driver, "cpu_jvm_s": cpu.jvm,
               "cpu_python_workers_s": cpu.python_workers,
               "steal_frac": (st1 - st0) / (tot1 - tot0) if tot1 > tot0 else 0.0}
        if tracer.enabled:
            spans = tracer.spans[first_span:]
            tracer.collect(spans)
            layers = layer_metrics(spans, cores)
            layers["jvm.gc_s"] = tracer.jvm_gc_s() - gc0
            layers["jvm.rss_peak_mb"] = rss_peak_mb(jpid) if jpid else 0.0
            layers["python.cpu_s"] = cpu.python_workers
            layers["host.steal_frac"] = rec["steal_frac"]
            layers["trace.overhead_frac"] = (
                (tracer.overhead_s - overhead0) / max(rec["wall_s"], 1e-9))
            rec["layers"] = layers
        t = time.perf_counter()
        try:
            problems = errors + wl.check(pass_no)
        except Exception as ex:
            problems = errors + [(n, f"check raised {type(ex).__name__}: {ex}")
                                 for _, n, _ in ops]
        rec["check_s"] = time.perf_counter() - t
        if tracer.enabled:
            rec["layers"].update(wl.counts)
        attempted += len(ops)
        failed += fail(pass_no, problems)
        rec["failed"] = sorted({op for op, _ in problems})
        record["passes"].append(rec)
        return rec

    # untimed priming / verification pass
    t_verify = time.perf_counter()
    verify = wl.verify()
    if verify is None:
        one_pass(0)
    else:
        attempted += len(ops)
        failed += fail(0, verify)

    record["verify_s"] = time.perf_counter() - t_verify

    # timed passes: start another only if it should end inside the window
    timed = []
    t_start = time.perf_counter()
    while True:
        timed.append(one_pass(len(timed) + 1))
        elapsed = time.perf_counter() - t_start
        if len(timed) >= MIN_PASSES and elapsed * (1 + 1 / len(timed)) > args.seconds:
            break
    record["measure_s"] = time.perf_counter() - t_start
    try:
        failed += fail(-1, wl.finish())
    except Exception as ex:  # counted like a failed check
        failed += fail(-1, [("finish", f"{type(ex).__name__}: {str(ex)[:300]}")])

    if args.trace:
        for p in timed:
            p["layers"].update({"session.start_s": setup_main, "pass.wall_s": p["wall_s"],
                                "pass.throughput": wl.items / p["wall_s"]})
        metrics = {n: (statistics.median(p["layers"].get(n, 0.0) for p in timed), unit)
                   for n, unit, _ in PER_LAYER}
    else:
        # steal and JIT warm-up only ever add CPU, so the timed pass that
        # used the least is the estimate the shared host disturbs least
        metrics = {
            "cpu_s": (min(p["cpu_s"] for p in timed), "s"),
            "setup_s": (setup_main, "s"),
        }
    record["items_per_pass"] = wl.items
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    record["result"] = result
    return result, record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="pipeline benchmark (see pipebench/README.md)")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, ENGINE, "cli.py")):
        print(f"pipebench: no {ENGINE}/ package under {root}; run from the "
              "repository root", file=sys.stderr)
        return 2
    base = os.path.join(root, ".pipebench")
    os.makedirs(os.path.join(base, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-s{args.seed}-",
                               dir=os.path.join(base, "runs"))
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    state: dict = {}
    try:
        result, record = run(args, root, run_dir, state)
    finally:
        if "spark" in state:
            try:
                stop_session(state["spark"])
            except Exception as ex:  # still reap and clean up
                print(f"pipebench: session stop failed: {ex}", file=sys.stderr)
        reap_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(base, "records"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    path = os.path.join(base, "records",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
        fh.write("\n")
    print(f"pipebench: run record {os.path.relpath(path, root)}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
