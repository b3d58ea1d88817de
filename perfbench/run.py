"""The repository benchmark: seeded workloads against the public
functions of ``streaming.pipeline``, ``transforms``, ``export.daily``,
``queries.transactions`` and ``export.manifest_sink``.

Usage (from the repository root)::

    python3 perfbench/run.py --workload ingest_backlog --seed 1 --seconds 24 --trace 0

BENCHMARK.json lists ``ingest_backlog`` and ``lakehouse_daily``;
``olap_dashboard`` runs the same way by hand.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is the
separate traced run: it also enables the Spark event log, tags jobs,
runs the per-layer probes, writes the span file and prints the
per-layer metrics. The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``. Everything
the run writes stays under ``.perfbench_work/`` in the repository root.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("ingest_backlog", "olap_dashboard", "lakehouse_daily")

# End-to-end metrics every workload reports (BENCHMARK.json end_to_end).
E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "op_p50_s": "s",
}


def _prepare_env(run_dir: str) -> None:
    """Process environment for steady numbers; must run before the JVM
    starts. Python workers import the package (the manifest sink's
    ``mapInArrow`` job), so they need the repository on PYTHONPATH."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.pop("SPARK_MASTER_SET", None)
    # no JVM performance-data files outside the run directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def start_session(run_dir: str, trace: bool):
    from olap_project_spark.session import build_session

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "events"))
        conf["spark.eventLog.dir"] = os.path.join(run_dir, "events")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = build_session(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Session:
    """JVM-side probes the workloads share: peak RSS and GC time."""

    def __init__(self, spark) -> None:
        self.spark = spark
        jvm = spark._jvm
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._mgmt = jvm.java.lang.management.ManagementFactory

    def gc_s(self) -> float:
        beans = self._mgmt.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000

    def peak_rss_mb(self) -> float:
        jvm_kb = 0
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it the Python
    worker daemons it owns) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=24)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    # The program under test must be importable from the checkout; in
    # a directory holding only the benchmark this fails, as it should.
    sys.path.insert(0, ROOT)
    import olap_project_spark  # noqa: F401

    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    run_dir = tempfile.mkdtemp(
        prefix=f"{args.workload}-{args.seed}-", dir=os.path.join(WORK, "runs")
    )
    try:
        _prepare_env(run_dir)
        import workloads
        from spans import Recorder

        rec = Recorder()
        wl = workloads.make(args.workload, rec, run_dir, args.seed, args.seconds, trace)
        t0 = time.perf_counter()
        # input generation overlaps the JVM start; both count as set-up
        gen_thread = threading.Thread(target=wl.generate_in_thread, name="generate")
        gen_thread.start()
        try:
            with rec.span("session.start"):
                spark = start_session(run_dir, trace)
        finally:
            gen_thread.join()
        try:
            if wl.generate_error is not None:
                raise wl.generate_error
            sess = Session(spark)
            wl.attach(spark, sess)
            wl.setup()
            t_setup = time.perf_counter()
            setup_s = t_setup - t0
            wl.run()
            wl.finish()
            peak = sess.peak_rss_mb()
        finally:
            stop_session(spark)
        res = wl.result
        e2e = {"setup_s": setup_s, **res.e2e}
        report = [
            f"workload {args.workload} seed {args.seed} seconds {args.seconds:g} "
            f"trace {args.trace}",
            f"  setup_s {setup_s:.4f} s ("
            + ", ".join(f"{sp.name} {sp.dur:.2f}" for sp in rec.spans
                        if sp.parent is None and sp.end <= t_setup
                        and sp.thread in ("MainThread", "generate"))
            + ")",
            f"  peak_rss_mb {peak:.1f} MB",
            *(f"  {line}" for line in res.report),
            f"  failed_frac {res.failed / max(1, res.attempted):.4f} "
            f"({res.failed}/{res.attempted} operations)",
        ]
        if trace:
            wl.layer["session.peak_rss_mb"] = peak
            layer = wl.per_layer(os.path.join(run_dir, "events"))
            tags = workloads.LAYER_TAGS
            report.append("  per-layer (moves -> end-to-end metric on workload):")
            for name, (val, unit) in layer.items():
                report.append(f"    {name} {val:.6g} {unit}  -> {tags[name]}")
            untraced = os.path.join(out_dir, f"{args.workload}-{args.seed}-untraced.json")
            if os.path.exists(untraced):
                with open(untraced) as f:
                    base = json.load(f)["op_p50_s"]
                report.append(
                    f"  tracing overhead on op_p50_s: {res.e2e['op_p50_s'] - base:+.4f} s "
                    f"vs the untraced run of the same seed ({base:.4f} s)"
                )
            span_file = os.path.join(out_dir, f"{args.workload}-{args.seed}-spans.json")
            rec.write(span_file, {
                "workload": args.workload, "seed": args.seed,
                "per_layer": {k: v[0] for k, v in layer.items()},
                "tags": {k: tags[k] for k in layer},
            })
            report.append(f"  spans written to {os.path.relpath(span_file, ROOT)}")
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        else:
            with open(os.path.join(out_dir, f"{args.workload}-{args.seed}-untraced.json"), "w") as f:
                json.dump(e2e, f)
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        print("\n".join(report))
        print(json.dumps({
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
