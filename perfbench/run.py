"""Benchmark entry point.

    python3 perfbench/run.py --workload lake_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. It generates the
workload's inputs from ``--seed``, sets up Spark through the
program's ``get_spark`` three times, each in a newly launched JVM
(once with ``--trace 1``, which does not print ``setup_s``), runs the
workload for ``--seconds`` in the last one, checks its
outputs and prints, as the last line of standard output, one JSON
object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones, with the names and units that
``BENCHMARK.json`` declares (README.md says what each one is). All
files go under ``.perfbench_work/`` in the checkout and are removed
at the end; a traced run also leaves its spans in ``.perfbench_out/``.
Progress, the planted input shares and the machine-load marker go to
standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "utc_cuip_kafka_aws_connector_spark"
SETUPS = 3


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    executor Python workers need the checkout on PYTHONPATH."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # 2 GB instead of the program's 8 GB default, to keep the footprint
    # small on machines whose memory is shared (see README.md).
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    import tempfile

    tempfile.tempdir = None


def _set_up(session, count: int) -> tuple[object, list[float], list[float], list[float]]:
    """Set up ``count`` times, each time launching a new JVM, building
    the session through ``get_spark`` and running the fixed warm-up;
    the last session stays up. Returns it with every set-up's total,
    session-start and warm-up seconds."""
    from engine import warm_up

    total, start, warm = [], [], []
    for k in range(count):
        if k:
            session.close()
        t0 = time.perf_counter()
        spark = session.start()
        t1 = time.perf_counter()
        warm_up(spark)
        t2 = time.perf_counter()
        total.append(t2 - t0)
        start.append(t1 - t0)
        warm.append(t2 - t1)
    return spark, total, start, warm


def _metrics(section: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def run(args) -> dict:
    from engine import CPUS, Session, load_marker, median, parse_event_log, quantile
    from workloads import WORKLOADS, Ops, Tracer

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    _log(f"machine load before: {load_marker()}")
    cls = WORKLOADS[args.workload]
    ops = Ops()
    session = Session(work)
    try:
        wl = cls(os.path.join(work, "a"), args.seed, session.cpu_s, args.scale)
        wl.corrupt = bool(args.corrupt)
        t0 = time.perf_counter()
        planted = wl.generate(args.seconds)
        _log(f"inputs generated in {time.perf_counter() - t0:.2f}s; planted {planted}")

        spark, setups, start_s, warmup_s = _set_up(session, 1 if args.trace else SETUPS)
        _log(f"set-ups {[round(s, 3) for s in setups]} (session start {[round(s, 3) for s in start_s]})")
        t0 = time.perf_counter()
        wl.warm(spark, ops)
        t1 = time.perf_counter()
        res = wl.measure(spark, args.seconds, ops, Tracer())
        t2 = time.perf_counter()
        wl.check(ops, spark)
        _log(f"warm-up {t1 - t0:.2f}s, measured {t2 - t1:.2f}s, checks {time.perf_counter() - t2:.2f}s")
        lat = res["latencies_ms"]
        _log(f"wall clock: throughput {res['throughput_per_s']:.1f}/s, latency p50 "
             f"{quantile(lat, 0.5):.1f} ms, p90 {quantile(lat, 0.9):.1f} ms over {len(lat)} samples")
        rss = session.peak_rss_mb()
        _log(f"peak RSS: Python driver {rss[0]:.0f} MB, JVM {rss[1]:.0f} MB")
        if not args.trace:
            values = {
                "setup_s": median(setups),
                "peak_rss_mb": sum(rss),
                "cpu_ms_per_kmsg": res["cpu_ms_per_kmsg"],
            }
            units = _metrics("end_to_end")
        else:
            # Traced phase: a fresh session with the event log on, job
            # groups around every layer call, then the layer prefixes.
            session.stop()
            traced = cls(os.path.join(work, "b"), args.seed, session.cpu_s, args.scale)
            traced.generate(args.seconds)
            spark = session.start(event_log=True)
            tr = Tracer(spark, enabled=True)
            traced.warm(spark, ops)
            t_measure = time.time()
            tres = traced.measure(spark, args.seconds, ops, tr)
            t_done = time.time()
            traced.check(ops, spark)
            units = _metrics("per_layer")
            values = {k: 0 for k in units}
            values.update(traced.layers(spark, tr))
            session.stop()
            # Untraced again, after the traced phase: the two untraced
            # phases bracket the traced one in the JVM's warm-up history,
            # so the overhead compares it with their mean.
            again = cls(os.path.join(work, "c"), args.seed, session.cpu_s, args.scale)
            again.generate(args.seconds)
            spark = session.start()
            again.warm(spark, ops)
            ures = again.measure(spark, args.seconds, ops, Tracer())
            again.check(ops, spark)
            session.stop()
            untraced = (res["cpu_ms_per_kmsg"] + ures["cpu_ms_per_kmsg"]) / 2
            _log(f"cpu_ms_per_kmsg untraced {res['cpu_ms_per_kmsg']:.2f}, traced "
                 f"{tres['cpu_ms_per_kmsg']:.2f}, untraced again {ures['cpu_ms_per_kmsg']:.2f}")
            groups, tasks = parse_event_log(session.event_log_dir)
            values.update(traced.layers_from_log(groups))
            # engine figures: every task that finished while measuring
            measured = [t for t in tasks if t_measure <= t[0] <= t_done]
            values.update({
                "session.start_s": median(start_s),
                "session.warmup_s": median(warmup_s),
                "engine.cpu_busy_share": sum(t[1] for t in measured) / ((t_done - t_measure) * CPUS),
                "engine.gc_s": sum(t[2] for t in measured),
                "engine.spill_bytes": sum(t[3] for t in measured),
                "wall.throughput_per_s": res["throughput_per_s"],
                "wall.latency_p50_ms": quantile(lat, 0.5),
                "wall.latency_p90_ms": quantile(lat, 0.9),
                "trace.overhead_ratio": tres["cpu_ms_per_kmsg"] / untraced - 1 if untraced else 0.0,
            })
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"), "w") as fh:
                json.dump(tr.spans, fh)
    finally:
        session.close()
        _log(f"machine load after: {load_marker()}")
        shutil.rmtree(work, ignore_errors=True)
    return {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size factor (self-test)")
    p.add_argument("--corrupt", type=int, choices=(0, 1), default=0,
                   help="damage the program's output before the checks (self-test)")
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        _log(f"the program ({PACKAGE}/) is not in {ROOT}; run from a checkout of the repository")
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; choose one of {sorted(WORKLOADS)}")
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
