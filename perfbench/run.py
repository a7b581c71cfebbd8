"""Benchmark command for validify_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout. One process runs one Spark job at a
time (closed loop) on ``local[<cpus>]``. Set-up starts the session,
generates the workload's inputs from ``--seed`` and runs
``WARMUP_ITERATIONS`` untimed iterations; then iterations run back to
back until ``--seconds`` of timed work is done. Every iteration's
output is checked against a DuckDB oracle outside the timed region.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` also runs
one traced iteration, with every layer call in its own Spark job group,
prints the per-layer metrics and writes them as JSON under
``.perfbench_out/``. The last line of stdout is always one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_MEMORY = "2g"
# Untimed iterations in set-up: iteration times keep falling for a few
# iterations while the JVM compiles Spark's hot paths.
WARMUP_ITERATIONS = 3

LAYERS = ("io.audit.run", "checks.uniqueness", "checks.ordering",
          "checks.stats_profile", "checks.drift", "checks.referential",
          "engine.normalize", "engine.pass_scan", "engine.violations",
          "engine.plan", "io.write_table", "dedup.exact", "dedup.jaccard",
          "dedup.minhash_lsh", "dedup.simhash", "dedup.clusters",
          "text.token_stats", "text.quality", "text.redact_pii",
          "stream.violations", "stream.uniqueness", "stream.ordering")
FIELD_UNITS = {"wall_s": "s", "cpu_s": "s", "jobs": "count",
               "shuffle_bytes": "B", "spill_bytes": "B"}
EXTRA_UNITS = {"io.audit.scan_ratio": "ratio",
               "engine.failing_ratio": "ratio",
               "udf.rows_sent": "count", "udf.bytes_sent": "B",
               "udf.python_s": "s", "udf.worker_start_s": "s",
               "stream.state_rows": "count", "stream.batch_s": "s",
               "host.steal_pct": "%", "host.loadavg": "load",
               "trace.overhead_ratio": "ratio",
               "trace.layer_share": "ratio", "failed_ratio": "ratio"}


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _cpu_jiffies():
    """(steal, total) jiffies from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return None
    return vals[7], sum(vals)


def _steal_pct(before, after) -> float:
    if before is None or after is None or after[1] == before[1]:
        return 0.0
    return 100.0 * (after[0] - before[0]) / (after[1] - before[1])


def _descendants(root: int) -> list:
    """Every live process under ``root``, read from /proc (empty off
    Linux)."""
    children = {}
    try:
        entries = os.listdir("/proc")
    except OSError:
        return []
    for entry in entries:
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the fields after the parenthesised command name
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process waiting to be reaped by
    another parent counts as ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _wait_gone(pids, seconds: float) -> list:
    deadline = time.monotonic() + seconds
    while True:
        pids = [p for p in pids if _alive(p)]
        if not pids or time.monotonic() >= deadline:
            return pids
        time.sleep(0.05)


def _signal_all(pids, sig) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except OSError:
            pass


def _stop_processes(spark) -> None:
    """Stop the session, then end the JVM and every process it started
    (Python workers included) and wait for each to exit, so nothing
    outlives the benchmark. PySpark itself leaves the JVM to notice on
    its own that the driver has gone."""
    from pyspark import SparkContext
    spawned = _descendants(os.getpid())
    if spark is not None:
        try:
            spark.stop()
        except Exception:  # noqa: BLE001 — the processes are ended below
            _log(traceback.format_exc())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = [p for p in spawned if proc is None or p != proc.pid]
    # While the JVM lives it reaps the Python workers it stops.
    _signal_all(_wait_gone(workers, 10), signal.SIGTERM)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()             # the JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — TimeoutExpired
            proc.kill()
            proc.wait()
    left = _wait_gone(spawned + _descendants(os.getpid()), 10)
    if left:
        _signal_all(left, signal.SIGKILL)
        left = _wait_gone(left, 10)
    if left:
        _log(f"perfbench: processes still running: {left}")


def _session(work: str, cpus: int):
    from validify_spark.session import get_spark
    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench", cpus=cpus, driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        })


def _environment(work: str) -> None:
    """Pin everything the session and its Python workers see to the
    checkout: workers import validify_spark from the repo root."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, path) if p)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def _run_checked(wl, i, failures: list, tracer=None):
    """One iteration; returns its wall time (None when it raised). The
    output check runs after the clock stops."""
    t0 = time.perf_counter()
    try:
        result = wl.iteration(i, tracer)
    except Exception as e:  # noqa: BLE001 — a failed attempt is counted
        _log(traceback.format_exc())
        failures.append(f"iteration {i}: {type(e).__name__}: {e}")
        return None, None
    wall = time.perf_counter() - t0
    _log(f"perfbench: iteration {i} took {wall:.3f}s")
    try:
        bad = wl.check(result)
    except Exception as e:  # noqa: BLE001
        _log(traceback.format_exc())
        bad = [f"check raised {type(e).__name__}: {e}"]
    if bad:
        failures.append(f"iteration {i}: " + "; ".join(bad))
        return None, result
    return wall, result


def _metric(value, unit):
    return {"value": value, "unit": unit}


def _layer_metrics(roll: dict, extras: dict, wl, run_s: float,
                   traced_s: float, host: dict, failed_ratio: float) -> dict:
    layers = roll["layers"]
    out = {}
    for layer in LAYERS:
        rec = layers.get(layer, {})
        fields = ("wall_s",) if layer == "engine.plan" else FIELD_UNITS
        for field in fields:
            out[f"{layer}.{field}"] = _metric(rec.get(field, 0),
                                              FIELD_UNITS[field])
    batches = extras.get("batch_s", [])
    values = {"io.audit.scan_ratio": 0.0, "engine.failing_ratio": 0.0,
              **wl.layer_extras(layers),
              **{f"udf.{k}": v for k, v in roll["udf"].items()},
              "stream.state_rows": extras.get("state_rows", 0),
              "stream.batch_s": (statistics.median(batches) if batches
                                 else 0.0),
              "host.steal_pct": host["steal_pct"],
              "host.loadavg": host["loadavg"],
              "trace.overhead_ratio": traced_s / run_s,
              # share of the traced iteration the listed layers cover
              # (0 when the traced iteration failed)
              "trace.layer_share": sum(
                  rec["wall_s"] for name, rec in roll["iteration"].items()
                  if name in LAYERS) / (traced_s or math.inf),
              "failed_ratio": failed_ratio}
    for name, unit in EXTRA_UNITS.items():
        out[name] = _metric(values[name], unit)
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "validify_spark",
                                       "__init__.py")):
        _log(f"perfbench: no validify_spark package under {ROOT}")
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)
    import oracle
    from spans import Tracer
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        _log(f"perfbench: unknown workload {args.workload!r}; "
             f"choose from {sorted(WORKLOADS)}")
        return 2

    # a terminated run still stops its processes on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus = len(os.sched_getaffinity(0))
    jiffies0 = _cpu_jiffies()
    spark = con = None
    try:
        t0 = time.perf_counter()
        spark = _session(work, cpus)
        session_s = time.perf_counter() - t0
        con = oracle.connect()
        wl = WORKLOADS[args.workload](spark, con, work, args.seed, cpus)
        t0 = time.perf_counter()
        wl.setup()
        gen_s = time.perf_counter() - t0
        wl.reference()                         # untimed
        failures = []
        warm = [_run_checked(wl, f"warmup{k}", failures)[0]
                 for k in range(WARMUP_ITERATIONS)]
        setup_s = session_s + gen_s + sum(w or 0.0 for w in warm)
        _log(f"perfbench: {wl.name} seed={args.seed} cpus={cpus} "
             f"rows={wl.rows} session={session_s:.2f}s "
             f"gen={gen_s:.2f}s warmup={warm}")

        times, attempted = [], WARMUP_ITERATIONS
        while sum(times) < args.seconds and len(failures) < 3:
            attempted += 1
            wall, _ = _run_checked(wl, attempted, failures)
            if wall is not None:
                times.append(wall)
        host = {"steal_pct": _steal_pct(jiffies0, _cpu_jiffies()),
                "loadavg": os.getloadavg()[0]}
        _log(f"perfbench: iterations={[round(t, 3) for t in times]} "
             f"steal={host['steal_pct']:.1f}% loadavg={host['loadavg']:.2f}")
        if not times:
            for f in failures:
                _log(f"perfbench: FAILED {f}")
            _log("perfbench: no iteration completed; nothing to report")
            return 1
        run_s = statistics.median(times)

        if args.trace:
            tracer = Tracer(spark, f"trace-{args.seed}")
            attempted += 1
            traced_s, _ = _run_checked(wl, "traced", failures, tracer)
            roll = tracer.rollup()
            extra_tracer = Tracer(spark, f"extras-{args.seed}")
            attempted += 1
            try:
                extras = wl.traced_extras(extra_tracer)
            except Exception as e:  # noqa: BLE001 — counted as a failure
                _log(traceback.format_exc())
                extras = {"failures": [f"{type(e).__name__}: {e}"]}
            failures += [f"traced extras: {f}" for f in extras["failures"]]
            roll["iteration"] = dict(roll["layers"])
            roll["layers"].update(extra_tracer.rollup()["layers"])
            metrics = _layer_metrics(roll, extras, wl, run_s,
                                     traced_s or 0.0, host,
                                     len(failures) / attempted)
            _write_artifact(wl, args, metrics, roll, times, traced_s, host)
        else:
            metrics = {
                "run_s": _metric(run_s, "s"),
                "rows_per_s": _metric(wl.rows / run_s, "rows/s"),
                "setup_s": _metric(setup_s, "s"),
            }
        for f in failures:
            _log(f"perfbench: FAILED {f}")
        for name, m in metrics.items():
            _log(f"perfbench: {name} = {m['value']} {m['unit']}")
        print(json.dumps({"correct": not failures, "attempted": attempted,
                          "failed": len(failures), "metrics": metrics}))
        return 0
    finally:
        if con is not None:
            con.close()
        _stop_processes(spark)
        shutil.rmtree(work, ignore_errors=True)


def _write_artifact(wl, args, metrics, roll, times, traced_s, host):
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{wl.name}-seed{args.seed}-trace.json")
    with open(path, "w") as f:
        json.dump({"workload": wl.name, "seed": args.seed,
                   "rows": wl.rows, "untraced_iterations_s": times,
                   "traced_s": traced_s, "host": host,
                   "layers": roll["layers"],
                   "iteration_layers": roll["iteration"],
                   "udf": roll["udf"],
                   "metrics": metrics}, f, indent=1, sort_keys=True)
    _log(f"perfbench: wrote {path}")


if __name__ == "__main__":
    sys.exit(main())
