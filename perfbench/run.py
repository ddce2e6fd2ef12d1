#!/usr/bin/env python3
"""Benchmark for the dedupe pipeline, run from the root of a checkout.

    python3 perfbench/run.py --workload bib_dense --seed 1 --seconds 10 --trace 0

Each run generates its seeded inputs, sets up one Spark session on
``local[<cores>]``, runs an untimed pass on a small input from another
seed, then measures the workload for about ``--seconds`` and checks every
output. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs an
untraced unit, a traced unit and an untraced unit again and prints the
per-layer metrics. The last line of standard output is the result object; the line before it
records the inputs' digests and the host conditions. See README.md.
"""
from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WARM_SEED_OFFSET = 1_000_003
DRIVER_MEMORY = "2g"
PIPELINE_LAYERS = ("prep", "block", "match", "cluster", "merge")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument(
        "--scale", choices=("full", "tiny"), default="full",
        help="input size; 'tiny' is for the self-test only",
    )
    return p.parse_args(argv)


def _isolate(work: Path) -> None:
    """Keep every file Spark and Python write inside the checkout."""
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, str(ROOT))


def _spark_conf(work: Path, trace: bool) -> dict:
    conf = {
        # a fixed, modest driver heap: with get_spark's 8g default, how far
        # the JVM grows its heap varies from run to run (peak memory spread
        # 26% over five seeds), and the host is shared
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # -XX:-UsePerfData: no JVM perf-data file in the system temp directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if trace:
        (work / "events").mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "events").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


class Tally:
    """Units attempted and failed, and the problems found."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list = []

    def fail(self, units: int, problem: str) -> None:
        self.failed += units
        self.problems.append(problem)
        print(f"perfbench: {problem}", file=sys.stderr)


def _run_unit(wl, spark, inp, work, tally: Tally, units: int):
    """One untraced unit; ``None`` when it raised (counted as failed)."""
    tally.attempted += units
    try:
        return wl.once(spark, inp, work)
    except Exception:  # a failed unit is a measured outcome, not a crash
        traceback.print_exc()
        tally.fail(units, f"{wl.name}: unit raised")
        return None


def _check(wl, spark, inp, output, tally: Tally, repeats: int = 1) -> float:
    """Check the output of ``repeats`` units and count the failed ones.

    A check made after each unit covers the whole unit, so any problem
    fails all of it. The deferred check (the headline queries) reports one
    problem per wrong query, and a wrong query failed in every sweep.
    """
    f1, problems = wl.check(spark, inp, output)
    if problems:
        per_unit = inp["units"] if wl.check_each else len(problems)
        tally.fail(per_unit * repeats, f"{wl.name}: " + "; ".join(problems))
    return f1


def measure(wl, spark, inp, work, seconds: float, tally: Tally) -> dict:
    """A fixed number of untraced units that fill about ``seconds``.

    The count comes from ``seconds`` and the workload's nominal unit
    time, not from the clock, so every run reports the same statistic
    (a median over the same number of units) however loaded the host is.
    """
    walls, latencies, f1s = [], [], []
    for _ in range(max(1, round(seconds / wl.unit_s))):
        done = _run_unit(wl, spark, inp, work, tally, inp["units"])
        if done is not None:
            wall, lats, output = done
            walls.append(wall)
            latencies.extend(lats)
            if wl.check_each:
                f1s.append(_check(wl, spark, inp, output, tally))
        spark.catalog.clearCache()
    if not walls:
        raise RuntimeError(f"{wl.name}: no unit completed")
    if not wl.check_each:
        f1s.append(_check(wl, spark, inp, None, tally, len(walls)))
    return {
        "wall_s": statistics.median(walls),
        "batch_p50_s": statistics.median(latencies),
        "pairwise_f1": min(f1s),
        "units": len(walls),
        "unit_walls": walls,
        "latencies": latencies,
    }


def traced_run(wl, spark, inp, work, tally: Tally) -> tuple:
    """An untraced unit, the traced unit, and the untraced unit again.

    The untraced wall is the mean of the two untraced units around the
    traced one, so JVM warm-up between units does not count as tracing
    overhead or saving.
    """
    from perfbench.trace import Tracer

    def check(output):
        if wl.check_each:
            _check(wl, spark, inp, output, tally)

    def untraced():
        done = _run_unit(wl, spark, inp, work, tally, inp["units"])
        if done is None:
            raise RuntimeError("an untraced unit of the traced run failed")
        check(done[2])
        spark.catalog.clearCache()
        return done[0], done[2]

    wall_a, out_a = untraced()
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    tracer = Tracer(spark)
    tally.attempted += inp["units"]
    out_b, extras = wl.traced(spark, inp, tracer, work)
    spark.conf.unset("spark.sql.pyspark.udf.profiler")
    check(out_b)
    if not wl.same(spark, out_a, out_b):
        tally.fail(inp["units"], f"{wl.name}: traced and untraced outputs differ")
    spark.catalog.clearCache()
    wall_c, _ = untraced()
    if not wl.check_each:
        _check(wl, spark, inp, None, tally, 3)
    return tracer, extras, (wall_a + wall_c) / 2


def layer_metrics(log, tracer, extras: dict, untraced_wall: float, session: dict, wanted: list) -> dict:
    """The per-layer metrics ``wanted`` (BENCHMARK.json's ``per_layer``)."""
    from bench import HEADLINE

    m = {spec["name"]: 0.0 for spec in wanted}

    def combined(spans):
        parts = [log.span_summary(s) for s in spans]
        out = {k: sum(p[k] for p in parts) for k in parts[0]}
        out["skew"] = max(p["skew"] for p in parts)
        return out

    for layer in PIPELINE_LAYERS:
        spans = tracer.named(layer)
        if spans:
            for key, value in combined(spans).items():
                if f"{layer}.{key}" in m:
                    m[f"{layer}.{key}"] = value
    for layer in ("prep", "match"):
        m[f"{layer}.udf_s"] = sum(tracer.udf_s.get(s.gid, 0.0) for s in tracer.named(layer))

    batches = tracer.named("streaming")
    if batches:
        per = [log.span_summary(s) for s in batches]
        for key in ("jobs", "task_s", "driver_s", "shuffle_mb", "written_mb"):
            m[f"streaming.{key}_per_batch"] = statistics.median(p[key] for p in per)
        lat = [p["wall_s"] for p in per[1:]]  # batch 0 blocks on its own
        if lat:
            third = max(len(lat) // 3, 1)
            m["streaming.batch_growth"] = sum(lat[-third:]) / sum(lat[:third])

    for q in HEADLINE:
        spans = tracer.named(f"harness.{q}")
        if spans:
            figures = combined(spans)
            m[f"harness.{q}.wall_s"] = figures["wall_s"]
            m[f"harness.{q}.jobs"] = figures["jobs"]

    m["session.wall_s"] = session["wall_s"]
    m["session.jobs"] = len(log.ungrouped_before(session["end"]))
    total = sum(s.t1 - s.t0 for s in tracer.spans if s.parent is None and s.name != "probe")
    m["trace.total_s"] = total
    m["trace.untraced_wall_s"] = untraced_wall
    m["trace.overhead_s"] = total - untraced_wall
    m.update(extras)
    return {spec["name"]: {"value": float(m[spec["name"]]), "unit": spec["unit"]} for spec in wanted}


def main(argv=None) -> int:
    args = _args(argv)
    if not (ROOT / "bib_dedupe_spark").is_dir() or not (ROOT / "bench.py").is_file():
        print(
            "perfbench: run from a checkout of the program "
            "(bib_dedupe_spark/ and bench.py are missing)",
            file=sys.stderr,
        )
        return 2
    runs = ROOT / ".bench_run"
    work = runs / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        return _main(args, work, runs)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _main(args, work: Path, runs: Path) -> int:
    _isolate(work)
    from perfbench.trace import EventLog, RssSampler, java_version
    from perfbench.workloads import WORKLOADS

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()[0]

    t0 = time.perf_counter()
    (work / "in").mkdir()
    (work / "warm").mkdir()
    inp = wl.make_inputs(str(work / "in"), args.seed, args.scale)
    warm = wl.make_inputs(
        str(work / "warm"), args.seed + WARM_SEED_OFFSET,
        "warm" if args.scale == "full" else "tiny",
    )
    inputs_s = time.perf_counter() - t0

    from bib_dedupe_spark.session import get_spark

    tally = Tally()
    spark = None
    with RssSampler() as rss:
        try:
            t0 = time.perf_counter()
            spark = get_spark(
                app_name=f"perfbench-{wl.name}",
                master=f"local[{cpus}]",
                extra_conf=_spark_conf(work, bool(args.trace)),
            )
            session = {"wall_s": time.perf_counter() - t0, "end": time.time()}
            spark.sparkContext.setLogLevel("ERROR")
            wl.once(spark, warm, str(work))
            spark.catalog.clearCache()
            setup_s = time.perf_counter() - t0

            if args.trace:
                tracer, extras, untraced_wall = traced_run(wl, spark, inp, str(work), tally)
                measured = {"units": 1}
            else:
                measured = measure(wl, spark, inp, str(work), args.seconds, tally)
            versions = {"spark": spark.version, "java": java_version(spark)}
        finally:
            if spark is not None:
                _stop(spark)

    if args.trace:
        metrics = layer_metrics(
            EventLog(str(work / "events")), tracer, extras, untraced_wall, session,
            bench["per_layer"],
        )
    else:
        values = dict(
            measured,
            setup_s=setup_s,
            peak_rss_mb=rss.peak_bytes / (1024 * 1024),
            success_rate=1.0 - tally.failed / max(tally.attempted, 1),
        )
        metrics = {
            spec["name"]: {"value": values[spec["name"]], "unit": spec["unit"]}
            for spec in bench["end_to_end"]
        }

    record = {
        "workload": wl.name,
        "seed": args.seed,
        "scale": args.scale,
        "trace": args.trace,
        "input_digest": inp["digest"],
        "warm_input_digest": warm["digest"],
        "inputs_s": inputs_s,
        "samples": {k: measured[k] for k in ("units", "unit_walls", "latencies") if k in measured},
        "problems": tally.problems,
        "host": {
            "nproc": cpus,
            "load_1m_start": load_start,
            "load_1m_end": os.getloadavg()[0],
            "python": platform.python_version(),
            **versions,
        },
        "run_s": time.perf_counter() - T_START,
    }
    (runs / "results").mkdir(exist_ok=True)
    (runs / "results" / f"{work.name}.json").write_text(
        json.dumps(dict(record, metrics=metrics), indent=1)
    )
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": tally.failed == 0 and not tally.problems,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
