#!/usr/bin/env python3
"""Closed-loop benchmark of the shear -> grid -> velocity pipeline.

Usage (from the repository root)::

    python3 perfbench/run.py --workload mission --seed 1 --seconds 5 --trace 0

One client runs ops back to back on seeded synthetic missions:

* ``mission``: one op is one mission (``shear_from_adcp`` -> two
  ``stage_boundary`` calls -> ``grid_shear`` -> ``velocity_from_shear``);
* ``fleet``: one op is a fleet of missions (per-mission shear from a thread
  pool -> ``combine_missions`` -> one grid and one velocity DAG partitioned
  by ``mission_col``).

A run starts a session, builds its inputs, runs the workload's untimed
warm-up ops, then times ops until ``--seconds`` have passed (at least one).  After every op, outside its
timing, the run frees what the op left persisted and compares the op's
``ADCP_E``/``ADCP_N`` with the independent numpy replay of the reference.

The last stdout line is one JSON object: end-to-end metrics with
``--trace 0``; with ``--trace 1`` the Spark event log is on and the metrics
are the per-layer breakdown.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# Sizes are set by the run-time budget, not by the data: an op runs the same
# ~47 Spark jobs whatever the mission size, a session's first op costs about
# twice a later one, and 2-dive missions leave the replay no finite velocity
# cell to compare.  ``mission`` times a warm op; ``fleet`` times the cold first
# op of a batch job.  See README.md.
WORKLOADS = {
    # missions per op, dives per mission, untimed warm-up ops
    "mission": {"missions": 1, "dives": 3, "warmup_ops": 1},
    "fleet": {"missions": 2, "dives": 3, "warmup_ops": 0},
}
INPUT_BUILDS = 3  # setup_s takes the median of this many input builds
BUCKET_US = 3600e6  # fleet interp-join bucket, as scripts/fleet_bench.py
ATOL, RTOL = 1e-7, 1e-3  # the reference's own test tolerance
LAYERS = ("shear", "boundary", "grid", "velocity")
EVENTLOG_KEYS = (
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("driver_gap_s", "s"),
    ("empty_task_share", "ratio"),
)


def pin_environment(trace: bool) -> None:
    """Fix the machine-dependent settings before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1, min(4, int(phys_gb // 4)))}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Python workers import the package for the Arrow UDFs
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = [f"--conf {k}={v}" for k, v in conf.items()]
    args.append(f"--driver-java-options -Djava.io.tmpdir={tmp}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


# --------------------------------------------------------------- inputs


def make_inputs(n_missions: int, n_dives: int, seed: int) -> list[dict]:
    """Seeded fixture missions as pandas frames.  Mission ``k`` uses seed
    ``seed + k`` and profile numbers offset by ``1000 * k`` (as
    ``scripts/fleet_bench.build_fleet``)."""
    from tests.mission_fixture import make_mission

    out = []
    for k in range(n_missions):
        glider, ping, cells, bt, attrs = make_mission(n_dives=n_dives, seed=seed + k)
        glider = glider.copy()
        glider["profile_number"] += 1000 * k
        out.append(
            {"glider": glider, "ping": ping, "cells": cells, "bt": bt, "attrs": attrs}
        )
    return out


def to_spark(spark, missions: list[dict]) -> list[dict]:
    return [
        {
            **{k: spark.createDataFrame(m[k]) for k in ("glider", "ping", "cells", "bt")},
            "attrs": m["attrs"],
        }
        for m in missions
    ]


def replay(mission: dict) -> dict:
    """ADCP_E/ADCP_N of the independent numpy replay (tests/reference_replay)."""
    from tests import reference_replay as RR

    ropts = {
        "correlationThreshold": 70.0,
        "ampThreshold": 75.0,
        "velocityThreshold": 0.8,
        "ADCP_regrid_correlation_threshold": 20.0,
        "y_res": 1.0,
    }
    adcp = RR.replay_shear_from_adcp(
        mission["glider"], mission["ping"], mission["cells"], mission["attrs"], ropts
    )
    return RR.replay_velocity_from_shear(adcp, mission["glider"], mission["bt"], ropts)


def check(out, expected: list[dict]) -> str | None:
    """None if every mission's ADCP_E/ADCP_N matches its replay (equal NaN
    masks, reference tolerance), else the first mismatch."""
    import numpy as np

    for k, ref in enumerate(expected):
        rows = out[out["mission"] == k] if "mission" in out else out
        xaxis, yaxis = ref["xaxis"], ref["yaxis"]
        prof = rows["profile_num"].to_numpy(float)
        dep = rows["depth_bin"].to_numpy(float)
        ok = np.isfinite(prof) & np.isfinite(dep)
        i = prof[ok].astype(int) - int(xaxis[0]) - 1
        j = dep[ok].astype(int)
        inside = (i >= 0) & (i < len(xaxis)) & (j >= 0) & (j < len(yaxis))
        for col in ("ADCP_E", "ADCP_N"):
            got = np.full((len(yaxis), len(xaxis)), np.nan)
            got[j[inside], i[inside]] = rows[col].to_numpy(float)[ok][inside]
            want = ref[col]
            if not np.isfinite(want).any():
                return f"mission {k} {col}: replay has no finite cell"
            if not (np.isfinite(got) == np.isfinite(want)).all():
                return f"mission {k} {col}: NaN masks differ"
            if not np.allclose(got, want, equal_nan=True, atol=ATOL, rtol=RTOL):
                return f"mission {k} {col}: values differ"
    return None


# ------------------------------------------------------------------ ops


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _options(fleet: bool) -> dict:
    from seaexplorertools_spark.pipeline import default_options

    options = default_options()
    options["correctADCPHeading"] = False
    if fleet:
        options["interp_bucket"] = BUCKET_US
    return options


def mission_op(tr, op: int, missions: list[dict], pool):
    """One mission: returns (velocity product as pandas, frames to unpersist)."""
    from seaexplorertools_spark.pipeline import (
        grid_shear,
        shear_from_adcp,
        stage_boundary,
        velocity_from_shear,
    )

    m = missions[0]
    with tr.span("shear.call", op):
        gridded, ping_aug, opts = shear_from_adcp(
            m["cells"], m["ping"], m["glider"], m["attrs"], _options(False)
        )
    gridded = gridded.cache()
    with tr.span("shear.run", op):
        _noop(gridded)
    with tr.span("boundary.call", op):
        gridded_t = stage_boundary(gridded)
        ping_t = stage_boundary(ping_aug)
    with tr.span("grid.call", op):
        grid = grid_shear(gridded_t, ping_t, m["glider"], opts)
    with tr.span("grid.run", op):
        _noop(grid)
    with tr.span("velocity.call", op):
        vel = velocity_from_shear(gridded_t, ping_t, m["glider"], m["bt"], opts)
    with tr.span("velocity.run", op):
        out = vel.select("profile_num", "depth_bin", "ADCP_E", "ADCP_N").toPandas()
    return out, [gridded]


def fleet_op(tr, op: int, missions: list[dict], pool):
    """One fleet: per-mission shear on ``pool``, then the combined DAGs."""
    from seaexplorertools_spark.pipeline import (
        combine_missions,
        grid_shear,
        shear_from_adcp,
        velocity_from_shear,
    )

    def shear_one(k: int, m: dict):
        with tr.span("shear.call", op, f".m{k}", parent="op"):
            gridded, ping_aug, opts = shear_from_adcp(
                m["cells"], m["ping"], m["glider"], m["attrs"], _options(True)
            )
        gridded = gridded.cache()
        with tr.span("shear.run", op, f".m{k}", parent="op"):
            _noop(gridded)
        return gridded, ping_aug, opts

    sheared = [f.result() for f in [pool.submit(shear_one, k, m) for k, m in enumerate(missions)]]
    with tr.span("boundary.call", op):
        fleet = combine_missions(
            [
                {"gridded": g, "ping_aug": p, "glider": m["glider"], "bt": m["bt"]}
                for (g, p, _), m in zip(sheared, missions)
            ],
            mission_ids=list(range(len(missions))),
        )
    opts = dict(sheared[0][2], mission_col="mission", interp_bucket=BUCKET_US)
    with tr.span("grid.call", op):
        grid = grid_shear(fleet["gridded"], fleet["ping_aug"], fleet["glider"], opts)
    with tr.span("grid.run", op):
        _noop(grid)
    with tr.span("velocity.call", op):
        vel = velocity_from_shear(
            fleet["gridded"], fleet["ping_aug"], fleet["glider"], fleet["bt"], opts
        )
    with tr.span("velocity.run", op):
        out = vel.select(
            "mission", "profile_num", "depth_bin", "ADCP_E", "ADCP_N"
        ).toPandas()
    return out, [g for g, _, _ in sheared]


def persisted_rdds(sc) -> list:
    return list(sc._jsc.getPersistentRDDs().values())


def isolate(sc, frames) -> dict:
    """Free everything an op left persisted; returns the counts."""
    from seaexplorertools_spark.caching import release_consistency_caches

    for df in frames:
        df.unpersist(blocking=True)
    released = release_consistency_caches(blocking=True)
    leaked = persisted_rdds(sc)
    for rdd in leaked:
        rdd.unpersist(True)
    return {"released": released, "leaked_rdds": len(leaked)}


# ------------------------------------------------------------ processes


def _stat(pid: int) -> tuple[int, str, int] | None:
    """(parent pid, state, start time) of a live process, else None."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return int(fields[1]), fields[0], int(fields[19])


def descendants(pid: int) -> dict[int, int]:
    """Every process below ``pid`` in the process tree -> its start time."""
    children: dict[int, list[int]] = {}
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (st := _stat(int(entry))) is not None:
            stats[int(entry)] = st
            children.setdefault(st[0], []).append(int(entry))
    out, todo = {}, [pid]
    while todo:
        for child in children.get(todo.pop(), ()):
            out[child] = stats[child][2]
            todo.append(child)
    return out


def _running(procs: dict[int, int]) -> dict[int, int]:
    """The processes of ``procs`` that have not ended (zombies have)."""
    return {
        pid: start
        for pid, start in procs.items()
        if (st := _stat(pid)) is not None and st[2] == start and st[1] not in "ZX"
    }


def stop_jvm(timeout: float = 60.0) -> None:
    """Stop the Spark session, its JVM and every process they started, and
    wait until each has ended; anything still running after ``timeout``
    seconds is killed.  Safe to call when no JVM was started."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    procs = descendants(os.getpid())
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            if jvm.stdin is not None:
                jvm.stdin.close()  # the gateway server exits on end of input
            try:
                jvm.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
    deadline = time.monotonic() + timeout
    while procs := _running(procs):
        if time.monotonic() > deadline:
            for pid in procs:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


# ------------------------------------------------------------------ run


def run(workload: str, seed: int, seconds: float, trace: bool, ops_path: str | None) -> dict:
    # Imports fail here, before any result is printed, when the benchmark is
    # run outside a checkout of the repository.
    import seaexplorertools_spark.pipeline  # noqa: F401
    from seaexplorertools_spark.session import get_spark

    spec = WORKLOADS[workload]
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{workload}")
    session_start = time.perf_counter() - t0
    sc = spark.sparkContext
    tr = tracing.Tracer(sc)
    try:
        builds = []
        for _ in range(INPUT_BUILDS):
            t = time.perf_counter()
            pd_missions = make_inputs(spec["missions"], spec["dives"], seed)
            missions = to_spark(spark, pd_missions)
            builds.append(time.perf_counter() - t)
        t = time.perf_counter()
        expected = [replay(m) for m in pd_missions]
        replay_s = (time.perf_counter() - t) / len(pd_missions)

        op_fn = fleet_op if workload == "fleet" else mission_op
        pool = ThreadPoolExecutor(max_workers=min(len(missions), len(os.sched_getaffinity(0))))
        ops: list[dict] = []
        deadline = time.perf_counter() + seconds if not spec["warmup_ops"] else None
        try:
            while True:
                op = len(ops)
                rec = {"op": op, "warmup": op < spec["warmup_ops"], "error": None}
                if persisted_rdds(sc):
                    rec["error"] = "op started with persisted RDDs"
                frames = []
                try:
                    with tr.span("op", op, spark_jobs=False):
                        out, frames = op_fn(tr, op, missions, pool)
                    (span,) = [s for s in tr.op_spans(op) if s.name == "op"]
                    rec["wall_s"] = span.end - span.start
                    rec["error"] = rec["error"] or check(out, expected)
                except Exception as exc:  # a failed op is counted, the loop goes on
                    rec["error"] = f"{type(exc).__name__}: {exc}"
                rec.update(isolate(sc, frames))
                rec["counts"] = tracing.status_counts(sc, tr.groups(op))
                ops.append(rec)
                if rec["error"]:
                    print(f"op {op} failed: {rec['error']}", file=sys.stderr)
                if op + 1 == spec["warmup_ops"]:
                    deadline = time.perf_counter() + seconds
                elif deadline is not None and time.perf_counter() >= deadline:
                    break
        finally:
            pool.shutdown(wait=True)
    finally:
        app_id = sc.applicationId
        spark.stop()

    timed = [r for r in ops if not r["warmup"] and "wall_s" in r]
    if not timed:
        raise RuntimeError("no timed op completed: " + "; ".join(str(r["error"]) for r in ops))
    walls = [r["wall_s"] for r in timed]
    result = {
        "correct": all(r["error"] is None for r in ops),
        "attempted": len(ops),
        "failed": sum(r["error"] is not None for r in ops),
    }
    if trace:
        log = os.path.join(WORK, "eventlog", app_id)
        groups = tracing.parse_event_log(log)
        os.remove(log)
        for r in ops:
            r["eventlog_counts"] = tracing.eventlog_counts(groups, r["op"])
        metrics = layer_report(tr, groups, ops, timed, session_start, builds, replay_s, spec)
    else:
        warmup = sum(r.get("wall_s", 0.0) for r in ops if r["warmup"])
        metrics = {
            "op_p50_s": (statistics.median(walls), "s"),
            "setup_s": (session_start + statistics.median(builds) + warmup, "s"),
        }
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    if ops_path:
        for r in ops:
            r["spans"] = [(s.name, s.end - s.start) for s in tr.op_spans(r["op"])]
        with open(ops_path, "w", encoding="utf-8") as fh:
            json.dump(ops, fh)
    return result


def layer_report(tr, groups, ops, timed, session_start, builds, replay_s, spec) -> dict:
    """Per-layer metrics: medians over the timed ops."""

    def med(values) -> float:
        return float(statistics.median(values))

    m: dict[str, tuple] = {
        "session.start_s": (session_start, "s"),
        "inputs.build_s": (med(builds), "s"),
        "warmup.ops": (spec["warmup_ops"], "count"),
        "baseline.replay_s": (replay_s, "s"),
        "caching.released": (med(r["released"] for r in timed), "count"),
        "boundary.leaked_rdds": (med(r["leaked_rdds"] for r in timed), "count"),
        "trace.op_p50_s": (med(r["wall_s"] for r in timed), "s"),
        "trace.count_mismatches": (
            sum(r["counts"] != r["eventlog_counts"] for r in ops),
            "count",
        ),
    }
    for layer in LAYERS:
        per_op = []
        for r in timed:
            spans = tr.op_spans(r["op"])
            phase = {
                ph: tracing.union_length(
                    [(s.start, s.end) for s in spans if s.name == f"{layer}.{ph}"]
                )
                for ph in ("call", "run")
            }
            ev = tracing.layer_metrics(groups, spans, r["op"], layer)
            per_op.append({**phase, **r["counts"].get(layer, {}), **ev})
        m[f"{layer}.call_s"] = (med(p["call"] for p in per_op), "s")
        if layer != "boundary":
            m[f"{layer}.run_s"] = (med(p["run"] for p in per_op), "s")
        for k in ("jobs", "stages", "tasks"):
            m[f"{layer}.{k}"] = (med(p.get(k, 0) for p in per_op), "count")
        for k, unit in EVENTLOG_KEYS:
            m[f"{layer}.{k}"] = (med(p[k] for p in per_op), unit)
    m["op.self_s"] = (
        med(
            tracing.self_time(s, tr.op_spans(r["op"]))
            for r in timed
            for s in tr.op_spans(r["op"])
            if s.name == "op"
        ),
        "s",
    )
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--ops", help="write per-op records (wall time, spans, counts) to this JSON file")
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    pin_environment(bool(args.trace))
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.ops)
    finally:
        stop_jvm()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
