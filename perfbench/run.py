"""crawlspark benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload crawl-bulk --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. The process starts one Spark
driver (``local[N]``, N = min(4, usable cores)), builds its inputs from
``--seed``, warms the workload's own code paths without timing them,
then runs whole jobs back to back until ``--seconds`` have passed (at
least one job). The outputs are checked after the timed window, and the
last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports
the per-layer metrics instead: the session logs Spark events, every
second job records spans around public crawlspark calls, and the
standalone codec / fetch / url-seen probes run after the window. Spans
and metrics are written to ``.perfbench_out/`` at the checkout root.
See perfbench/README.md for what each metric measures.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from spans import Tracer, drift_ratio, median  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
OUT = os.path.join(ROOT, ".perfbench_out")
IMG_SCALE = "2"
DRIVER_MEM = "2g"


def pin_environment() -> None:
    """Environment every run shares; set before the JVM starts so the
    driver and its Python workers inherit it."""
    for var in (
        "CRAWLSPARK_PROFILE",
        "CRAWLSPARK_CUCKOO_STATS",
        "CRAWLSPARK_CUCKOO_AUTO_MIN",
        "PYSPARK_SUBMIT_ARGS",
    ):
        os.environ.pop(var, None)
    os.environ["CRAWLSPARK_IMG_SCALE"] = IMG_SCALE
    # session.py defaults the driver heap to 48g, more than a 15 GB machine
    # has; local mode runs every task inside this one heap
    os.environ["CRAWLSPARK_DRIVER_MEM"] = DRIVER_MEM
    # executor Python workers import crawlspark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def spark_conf(trace: bool) -> dict[str, str]:
    """Settings that keep every file the session writes inside WORK."""
    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
        + os.path.join(WORK, "tmp"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(WORK, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def master() -> str:
    return f"local[{min(4, len(os.sched_getaffinity(0)))}]"


def run_window(wl, seconds: float, tracer, trace: bool) -> tuple[list[dict], float]:
    """Closed loop with one client: start the next job when the last
    one returns, until ``seconds`` have passed. In a traced run every
    second job records spans, and the window holds at least three jobs
    (untraced, traced, untraced), so leftover warm-up drift cancels out
    of the tracing overhead."""
    records: list[dict] = []
    min_jobs = 3 if trace else 1
    t0 = time.perf_counter()
    i = 0
    while i < min_jobs or time.perf_counter() - t0 < seconds:
        traced = trace and i % 2 == 1
        tracer.enabled = traced
        js = time.perf_counter()
        try:
            if traced:
                with tracer.span("job", index=i) as sp:
                    rec = wl.job(i)
                rec["span"] = sp.id
            else:
                rec = wl.job(i)
        except Exception:  # a raised job is a failed op, not a crash
            traceback.print_exc(file=sys.stderr)
            rec = {"ops": 0, "failed_ops": 1, "steps": []}
        rec["wall"] = time.perf_counter() - js
        rec["start"] = js
        rec["traced"] = traced
        records.append(rec)
        i += 1
    tracer.enabled = False
    return records, time.perf_counter() - t0


def end_to_end(records, window_s, setup_s) -> dict:
    ok = [r for r in records if not r.get("failed_ops")]
    steps = [s for r in ok for s in r["steps"]]
    return {
        "setup_s": (setup_s, "s"),
        "job_s": (median([r["wall"] for r in ok]), "s"),
        "ops_per_s": (sum(r["ops"] for r in ok) / window_s, "1/s"),
        # geometric, not the median: the median of a query pass's 16
        # walls is one of the short queries and varied twice as much
        "step_gmean_s": (statistics.geometric_mean(steps) if steps else 0.0, "s"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    pin_environment()
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(WORK, d))
    try:
        return _run(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


def stop_session(spark) -> None:
    """Stop the session and the driver JVM, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _run(args) -> int:
    # program imports come after the environment is pinned; without the
    # crawlspark sources next to perfbench/ this raises and the run
    # exits non-zero without a result line
    import workloads
    from crawlspark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}")
    cls = workloads.WORKLOADS[args.workload]
    trace = bool(args.trace)
    t = time.perf_counter()
    spark = get_spark(
        master(),
        app_name=f"perfbench-{args.workload}",
        shuffle_partitions=cls.shuffle_partitions,
        extra_conf={**cls.extra_conf, **spark_conf(trace)},
        fair_jobs=cls.fair_jobs,
    )
    session = {"start_s": time.perf_counter() - t}
    # installed in every run: round walls are recorded with tracing off
    # too, and untraced jobs of a traced run pay the same wrappers
    tracer = Tracer(spark.sparkContext if trace else None)
    probes = None
    try:
        wl = cls(spark, args.seed, os.path.join(WORK, "work"), tracer)
        wl.prepare()
        t = time.perf_counter()
        wl.warmup()
        session["warmup_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - T_PROCESS

        records, window_s = run_window(wl, args.seconds, tracer, trace)
        tracer.uninstall()
        failures = wl.check(records)
        if trace:
            import probes as probe_mod

            probes = probe_mod.run_all(spark, args.seed, os.path.join(WORK, "probe"))
    finally:
        stop_session(spark)

    attempted = sum(r["ops"] + r.get("failed_ops", 0) for r in records)
    failed = sum(r.get("failed_ops", 0) for r in records)
    if failures:
        failed = attempted
    for f in failures:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    walls = [r["wall"] for r in records]
    for r in records:
        parts = {k: round(r[k], 2) for k in ("crawl_s", "publish_s") if k in r}
        print(f"  job {r['wall']:.2f}s steps {[round(x, 2) for x in r['steps']]} {parts}", file=sys.stderr)
    print(
        f"{args.workload} seed={args.seed}: setup {setup_s:.2f}s, "
        f"{len(records)} jobs {[round(w, 2) for w in walls]}, "
        f"drift {drift_ratio(walls):.3f}, checks "
        f"{'ok' if not failures else 'FAILED'}",
        file=sys.stderr,
    )
    if trace:
        from layers import per_layer

        os.makedirs(OUT, exist_ok=True)
        metrics = per_layer(
            wl,
            tracer,
            records,
            probes,
            session,
            eventlog_dir=os.path.join(WORK, "eventlog"),
            out_path=os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace.json"),
        )
    else:
        metrics = end_to_end(records, window_s, setup_s)
    result = {
        "correct": not failures and failed == 0,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
