"""Benchmark of the engine's serving read path and its batch curation
queries, run from the repository root:

    python3 vdbbench/run.py --workload search_read --seed 1 --seconds 12 --trace 0

``--trace 0`` prints every end-to-end metric; ``--trace 1`` makes the
traced run, which measures the workload twice in one process (tracing
off, then on) and prints every per-layer metric, the tracing overhead
among them. The last line of standard output is the result as one JSON
object; the lines before it give the workload's named metrics, the
environment stamp and the input digest. Each result is also saved under
``vdbbench/.work/results/``; ``--compare A.json B.json`` prints the change
between two saved results and refuses results taken at different core
counts.

Workloads (inputs are generated from ``--seed``; see gen.py):

- ``search_read`` (serving.py): closed-loop /search and /vectors/query
  requests through ``server.serve`` over a stored chunk table, after a
  set-up that builds the IVF store and ingests a mixed-format batch.
- ``batch_curation`` (batch.py): eight registry queries (dedup, decode and
  text families) over a generated documents table, each to the noop sink.

End-to-end metrics, the same three for both workloads:

- ``setup_s``: process start until the first measured operation, minus
  input generation and reference checks.
- ``p50_s``: median latency of one measured operation (a request; a
  registry query run). A failed operation counts as 1e9 s.
- ``docs_per_s``: stored chunks scored per second of /search latency
  (search_read); input documents processed per second of query time
  (batch_curation).
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

from batch import QUERIES  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "articulation_vector_db_api_spark"
WORKLOADS = {"search_read": "serving", "batch_curation": "batch"}

E2E = {"setup_s": "s", "p50_s": "s", "docs_per_s": "docs/s"}
PER_LAYER = {
    "server.overhead_s": "s",
    "api.search_s": "s",
    "api.vquery_s": "s",
    "api.warm_s": "s",
    "api.warms": "count",
    "api.ingest_s": "s",
    "search.plan_s": "s",
    "search.exec_s": "s",
    "search.jobs_per_request": "count",
    "search.tasks_per_request": "count",
    "search.rows_scored_per_result": "ratio",
    "vstore.plan_s": "s",
    "vstore.exec_s": "s",
    "vstore.files_per_probe": "count",
    "ingest.extract_job_s": "s",
    "ingest.write_job_s": "s",
    "ingest.readback_job_s": "s",
    "ingest.output_files": "count",
    "ingest.bytes_written": "bytes",
    "ingest.files_failed_per_attempted": "ratio",
    "udf.ingest_python_s": "s",
    "udf.extract_pdf_text_self_s": "s",
    "udf.decode_python_s": "s",
    "udf.decode_mp1_self_s": "s",
    "udf.decode_mpeg2_self_s": "s",
    "udf.decompress_zstd_self_s": "s",
    "udf.dedup_python_s": "s",
    "udf.text_python_s": "s",
    **{f"batch.{q}_s": "s" for q in QUERIES},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.python_gap_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.driver_s": "s",
    "trace.overhead_s": "s",
    "trace.request_uncovered_s": "s",
    "trace.request_accounted_share": "ratio",
    **{
        f"self.{n}_s": "s"
        for n in (
            "server", "api.search", "api.vquery", "search.plan",
            "search.exec", "vstore.plan", "vstore.exec", "api.warm",
        )
    },
}
# the environment variables a result is stamped with
STAMP_ENV = (
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "OMP_NUM_THREADS",
    "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Core count defaults to the machine's (nproc); every temporary write
    of the session (shuffle files, temp files, warehouse, event log) stays
    under ``vdbbench/.work``."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    for d in ("spark-local", "tmp", "results"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]


def start_session(traced: bool):
    from articulation_vector_db_api_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData",
    }
    if traced:
        log_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
                "spark.sql.pyspark.udf.profiler": "perf",
            }
        )
    spark = get_spark("vdbbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def stamp(seed: int, digest: str) -> dict:
    import pyspark

    try:
        import pypdf  # noqa: F401 - whether PDF text comes from pypdf

        has_pypdf = True
    except ImportError:
        has_pypdf = False
    return {
        "nproc": nproc(),
        **{k: os.environ.get(k) for k in STAMP_ENV},
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "pypdf": has_pypdf,
        "seed": seed,
        "input_digest": digest,
    }


def measure(args) -> dict:
    traced = bool(args.trace)
    run = importlib.import_module(WORKLOADS[args.workload]).Run(
        args.seed, args.seconds, traced, WORK
    )
    t = time.perf_counter()
    digest = run.generate()
    gen_s = time.perf_counter() - t
    t = time.perf_counter()
    spark = start_session(traced)
    session_s = time.perf_counter() - t
    try:
        run.setup(spark)
        setup_s = time.perf_counter() - T0 - gen_s - getattr(run, "check_s", 0.0)
        untraced = run.window("a")
        if traced:
            from profiles import take

            take(spark, os.path.join(WORK, "profile"))  # drop set-up profiles
            b_start = time.time()
            run.tracer.enabled = True
            traced_recs = run.window("b")
            run.tracer.enabled = False
            b_end = time.time()
            if hasattr(run, "count_jobs"):
                run.count_jobs()
        run.stop()
    finally:
        stop_session(spark)
    run.verify()
    shutil.rmtree(run.dir, ignore_errors=True)
    ops = run.ops
    failed = sum(not op["ok"] for op in ops)
    failed_by_kind: dict[str, int] = {}
    for op in ops:
        if not op["ok"]:
            key = f"failed_{op['kind']}"
            failed_by_kind[key] = failed_by_kind.get(key, 0) + 1
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "summary": {
            **run.summary(untraced),
            "op_error_rate": failed / len(ops),
            **failed_by_kind,
            "setup_session_s": session_s,
            "generate_s": gen_s,
        },
        "stamp": stamp(args.seed, digest),
    }
    e2e = run.e2e(untraced, setup_s)
    if traced:
        import eventlog

        log = eventlog.read(os.path.join(WORK, "eventlog"))
        layer = dict.fromkeys(PER_LAYER, 0.0)
        layer.update(
            log.window(b_start * 1e3, b_end * 1e3).runtime_metrics(b_end - b_start)
        )
        layer.update(run.per_layer(traced_recs, e2e["p50_s"], log))
        result["metrics"] = {k: (layer[k], PER_LAYER[k]) for k in PER_LAYER}
    else:
        result["metrics"] = {k: (e2e[k], E2E[k]) for k in E2E}
    return result


def compare(path_a: str, path_b: str) -> int:
    """Print the change of every metric from result A to result B; refuse
    results taken at different core counts."""
    with open(path_a) as f:
        a = json.load(f)
    with open(path_b) as f:
        b = json.load(f)
    for key in ("nproc", "SPARK_GRAFT_CPUS"):
        if a["stamp"][key] != b["stamp"][key]:
            print(
                f"refusing to compare: {key} is {a['stamp'][key]} in {path_a} "
                f"and {b['stamp'][key]} in {path_b}",
                file=sys.stderr,
            )
            return 3
    for name, m in a["metrics"].items():
        if name in b["metrics"]:
            va, vb = m["value"], b["metrics"][name]["value"]
            share = (vb - va) / va if va else float("nan")
            print(f"{name:36s} {va:14.6g} -> {vb:14.6g} {m['unit']:8s} {share:+.3f}")
    return 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = ap.parse_args(argv)
    if args.compare:
        return compare(*args.compare)
    if not args.workload:
        ap.error("--workload is required")
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: the engine package {PACKAGE}/ is not in {ROOT}", file=sys.stderr)
        return 2
    prepare_env()
    result = measure(args)
    metrics = {
        k: {"value": v if math.isfinite(v) else 1e9, "unit": u}
        for k, (v, u) in result["metrics"].items()
    }
    saved = {**result, "metrics": metrics, "workload": args.workload, "trace": args.trace}
    out = os.path.join(WORK, "results", f"{args.workload}-t{args.trace}-s{args.seed}.json")
    with open(out, "w") as f:
        json.dump(saved, f, indent=1)
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} -> {out}")
    for k, v in result["stamp"].items():
        print(f"stamp {k} {v}")
    for k, v in result["summary"].items():
        print(f"{k} {v:.6g}")
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(
        json.dumps(
            {
                "correct": result["correct"],
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
