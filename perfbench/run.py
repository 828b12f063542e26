#!/usr/bin/env python3
"""Benchmark of the engine's write path and its LLM-data operators.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --all --seed N --seconds S --trace 0|1

Run from the root of a checkout. One invocation runs one workload in this
fresh process: it starts the session on ``local[<cores>]``, generates the
inputs from the seed, runs a cold pass, one warm-up pass and then measured
passes over the workload's pinned op list with one closed-loop client,
checks every op's output, launches the session twice more to time set-up
again, and prints a report followed by one JSON line. ``--seconds`` sets
the number of measured passes: it is divided by the workload's nominal
pass time, so every run of a workload measures the same passes. ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones. ``--all`` runs every workload, each in its own process.
Everything the run writes stays under ``perfbench/.work``.
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
import time
from contextlib import nullcontext


def _process_age_s() -> float:
    """Seconds since this process was created, from /proc."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return 0.0
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T0 = time.monotonic() - _process_age_s()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")

WORKLOAD_NAMES = {
    "migrate_pg_sf0.01": "migrate_pg",
    "llm_fresh_sf0.01": "llm_fresh",
}
P90_MIN_SAMPLES = 100
FIRST_MEASURED = 2  # pass 0 is cold, pass 1 warms up the JIT; neither is a warm sample
MIN_MEASURED = 2  # fewest untraced measured passes; a traced run gets as many traced ones
SETUP_SAMPLES = 3  # session launches per run; setup_s is their median
HARD_CAP_S = 120.0  # no new pass starts after this much of the window


def read_benchmark_json() -> dict:
    with open(BENCHMARK_JSON) as f:
        return json.load(f)


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of the "end_to_end" or "per_layer" metrics."""
    return {m["name"]: m["unit"] for m in read_benchmark_json()[kind]}


def configure_env(extra: dict[str, str]) -> dict[str, str]:
    """Size the session to the machine and keep its files in WORK. Only
    the CPU count and driver memory of the engine's settings change."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) // (1024 * 1024)
    tmp = os.path.join(WORK, "tmp")
    local_dir = os.path.join(WORK, "spark-local")
    for d in (tmp, local_dir):  # left over if an earlier run was killed
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(8, mem_gb // 4))}g",
        "SPARK_GRAFT_LOCAL_DIR": local_dir,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell',
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",  # spark-submit's own launcher JVM
        **extra,
    }
    os.environ.update(env)
    return env


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def measured_passes(seconds: float, nominal_pass_s: float) -> int:
    """Untraced measured passes for a ``seconds`` window: a count, not a
    deadline, so a slow host does not shift the median to other passes."""
    return max(MIN_MEASURED, round(seconds / nominal_pass_s))


def run_passes(spark, wl, seconds: float, trace: bool, sprobe) -> tuple[list[dict], dict]:
    """Cold pass, warm-up pass, then the measured passes. With tracing,
    the cold pass and every odd pass are traced and the others are not, so
    both kinds come from the same session, and the run makes as many
    traced measured passes as untraced ones. Also returns each op's output
    from the last pass it succeeded in."""
    from workloads import Spans

    passes: list[dict] = []
    outputs: dict = {}
    total = FIRST_MEASURED + measured_passes(seconds, wl.nominal_pass_s) * (2 if trace else 1)
    t_window = time.monotonic()
    current = [Spans(False)]
    with wl.ddl_timer(lambda: current[0]) if trace else nullcontext():
        for index in range(total):
            traced = trace and (index == 0 or index % 2 == 1)
            data_dir = wl.pass_dir(index)
            ops = []
            t0 = time.monotonic()
            for op in wl.ops:
                spans = current[0] = Spans(traced)
                if traced:
                    sprobe.begin(op)
                err = ""
                ts = time.perf_counter()
                outputs.pop(op, None)
                try:
                    outputs[op] = wl.run_op(spark, op, data_dir, spans, sprobe if traced else None)
                except Exception as e:  # noqa: BLE001 - a failed op is counted, the run goes on
                    err = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
                wall = time.perf_counter() - ts
                if traced:
                    spans.values.update(sprobe.end())
                ops.append({"op": op, "module": wl.module(op), "wall_s": wall, "error": err, "layers": spans.values})
            wall = time.monotonic() - t0
            p = {"index": index, "traced": traced, "wall_s": wall, "ops": ops, "dir": data_dir}
            if traced:
                p["stats"] = {**sprobe.memory(), **wl.pass_stats(data_dir)}
            passes.append(p)
            print(f"# pass {index} {'traced' if traced else 'untraced'} wall_s={wall:.4f} dir={os.path.relpath(data_dir, ROOT)} "
                  + json.dumps({o["op"]: round(o["wall_s"], 3) for o in ops}), flush=True)
            if time.monotonic() - t_window > HARD_CAP_S:
                break
    return passes, outputs


def e2e_metrics(setups: list[float], passes: list[dict], rss_mb: float) -> tuple[dict, dict]:
    warm = [p for p in passes[FIRST_MEASURED:] if not p["traced"]]
    op_walls = sorted(o["wall_s"] for p in warm for o in p["ops"])
    metrics = {
        "setup_s": _median(setups),
        "cold_pass_s": passes[0]["wall_s"],
        "warm_pass_s": _median([p["wall_s"] for p in warm]),
        "op_p50_s": _median(op_walls),
        "peak_rss_mb": rss_mb,
    }
    extra = {"op_samples": len(op_walls), "warm_passes": len(warm)}
    if len(op_walls) >= P90_MIN_SAMPLES:
        extra["op_p90_s"] = statistics.quantiles(op_walls, n=10)[-1]
    return metrics, extra


def pass_layers(p: dict, cores: int) -> dict[str, float]:
    """Per-pass sums of the per-op layer numbers, plus derived ratios."""
    out: dict[str, float] = {}
    for o in p["ops"]:
        for k, v in o["layers"].items():
            out[k] = out.get(k, 0.0) + v
        key = f"{o['module']}.op_s"
        out[key] = out.get(key, 0.0) + o["wall_s"]
    action = out.pop("exec.action_s", 0.0)
    out["exec.busy_share"] = out.get("exec.task_run_s", 0.0) / (cores * action) if action else 0.0
    rows = out.pop("etl.rows", 0.0)
    if out.get("etl.copy_s"):
        out["etl.rows_per_s"] = rows / out["etl.copy_s"]
    out.update(p.get("stats", {}))
    return out


def layer_metrics(passes: list[dict], cores: int, harness: dict[str, float]) -> dict[str, float]:
    """Median over the traced measured passes, plus the cold pass's codegen
    and scan numbers, the tracing overhead and the per-run harness numbers."""
    traced = [pass_layers(p, cores) for p in passes[FIRST_MEASURED:] if p["traced"]]
    names = set().union(*traced) if traced else set()
    out = {k: _median([t.get(k, 0.0) for t in traced]) for k in names}
    cold = pass_layers(passes[0], cores)
    out["codegen.cold_compiles"] = cold.get("codegen.compiles", 0.0)
    out["codegen.cold_compile_s"] = cold.get("codegen.compile_s", 0.0)
    out["sources.cold_scan_s"] = cold.get("sources.scan_s", 0.0)
    plain = _median([p["wall_s"] for p in passes[FIRST_MEASURED:] if not p["traced"]])
    traced_wall = _median([p["wall_s"] for p in passes[FIRST_MEASURED:] if p["traced"]])
    out["trace.overhead_pct"] = 100.0 * (traced_wall / plain - 1.0) if plain else 0.0
    out.update(harness)
    return out


def harness_metrics(setups: list[float], gen_s: float, host0: dict, host1: dict) -> dict[str, float]:
    """The per-run numbers of the session and harness layers; ``host0`` and
    ``host1`` are ``probe.host_snapshot()`` at the start and the end."""
    return {
        "session.start_s": _median(setups),
        "harness.gen_s": gen_s,
        "host.steal_s": host1["host.steal_total_s"] - host0["host.steal_total_s"],
        "host.loadavg_1m": host0["host.loadavg_1m"],
        "host.mem_available_mb": host0["host.mem_available_mb"],
    }


def shutdown(spark) -> None:
    """Stop the session and wait for the driver JVM to exit. The next
    ``get_session`` then launches a new JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def relaunch_setups(get_session, pre_s: float, n: int) -> list[float]:
    """Set-up times of ``n`` more session launches, each in a new JVM:
    the interpreter start and imports before the first ``get_session``
    call (``pre_s``, paid once per process) plus the launch itself."""
    out = []
    for _ in range(n):
        t = time.monotonic()
        spark = get_session()
        try:
            out.append(pre_s + time.monotonic() - t)
        finally:
            shutdown(spark)
    return out


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    import pg
    import probe
    import workloads

    wl_cls = workloads.WORKLOADS[WORKLOAD_NAMES[name]]
    server = pg.LocalPostgres(os.path.join(WORK, "pg"), pg.free_port()) if wl_cls.needs_postgres else None
    host0 = probe.host_snapshot()
    settings = configure_env(server.env() if server else {})

    from mdb_to_postgres_spark.session import DEFAULT_SHUFFLE_PARTITIONS, get_session

    pre_s = time.monotonic() - T0
    spark = get_session()
    setup_s = time.monotonic() - T0
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    spark.sparkContext.setLogLevel("ERROR")
    cores = int(settings["SPARK_GRAFT_CPUS"])
    print("# settings " + json.dumps({
        "workload": name, "seed": seed, "seconds": seconds, "trace": int(trace),
        "master": spark.sparkContext.master, "spark": spark.version,
        "driver_mem": settings["SPARK_GRAFT_DRIVER_MEM"], "shuffle_partitions": DEFAULT_SHUFFLE_PARTITIONS,
        "ops": list(wl_cls.ops), "sizes": vars(wl_cls.sizes),
        "measured_passes": measured_passes(seconds, wl_cls.nominal_pass_s),
    }), flush=True)
    print("# host " + json.dumps({k: round(v, 3) for k, v in host0.items()}), flush=True)
    try:
        t = time.monotonic()
        wl = wl_cls(seed, WORK)
        wl.prepare()
        if server:
            server.start()
        gen_s = time.monotonic() - t
        sprobe = probe.SparkProbe(spark) if trace else None
        passes, outputs = run_passes(spark, wl, seconds, trace, sprobe)
        t = time.monotonic()
        last_dir = passes[-1]["dir"]
        bad = wl.check(spark, last_dir, outputs)
        known_defects = wl.probe_defect(spark, last_dir)
        rss = probe.peak_rss_mb(jvm_pid)
        check_s = time.monotonic() - t
    finally:
        t = time.monotonic()
        try:
            shutdown(spark)
        finally:
            if server:
                server.stop()
        teardown_s = time.monotonic() - t
    setups = [setup_s, *relaunch_setups(get_session, pre_s, SETUP_SAMPLES - 1)]
    host1 = probe.host_snapshot()
    failed = sum(1 for p in passes for o in p["ops"] if o["error"])
    attempted = sum(len(p["ops"]) for p in passes)
    errors = sorted({f"{o['op']}: {o['error']}" for p in passes for o in p["ops"] if o["error"]})
    harness = harness_metrics(setups, gen_s, host0, host1)
    e2e, extra = e2e_metrics(setups, passes, rss)
    for p in passes:
        if p["traced"]:
            layers = pass_layers(p, cores)
            print(f"# layers pass={p['index']} " + json.dumps({k: round(v, 6) for k, v in sorted(layers.items())}))
            for o in p["ops"]:
                brief = {k: round(o["layers"].get(k, 0.0), 4) for k in ("exec.jobs", "exec.stages", "exec.tasks", "codegen.compiles")}
                print(f"# op pass={p['index']} {o['op']} wall_s={o['wall_s']:.4f} " + json.dumps(brief))
    summary = {
        **{k: round(v, 4) for k, v in e2e.items()}, **extra,
        "ops_attempted": attempted, "ops_failed": failed, "errors": errors,
        "checks_failed": bad, "known_defect": known_defects,
        "host.steal_s": round(harness["host.steal_s"], 3), "harness.gen_s": round(gen_s, 3),
        "harness.check_s": round(check_s, 3), "harness.teardown_s": round(teardown_s, 3),
        "setups_s": [round(s, 3) for s in setups],
        "pass_walls_s": [round(p["wall_s"], 3) for p in passes],
    }
    metrics, missing = result_metrics(trace, e2e, layer_metrics(passes, cores, harness) if trace else {},
                                      workloads.COMMON_LAYERS | wl_cls.layers)
    if missing:
        bad["layers"] = "not produced: " + ", ".join(missing)  # also in the summary: same dict
    print("# summary " + json.dumps(summary), flush=True)
    return {"correct": not bad and failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def result_metrics(trace: bool, e2e: dict[str, float], layers: dict[str, float],
                   applicable: frozenset[str]) -> tuple[dict, list[str]]:
    """The printed metrics, and the applicable per-layer names the run did
    not produce. Tracing prints every per-layer metric of BENCHMARK.json:
    0 for one that does not apply to the workload, and also 0 for a
    missing one, which the caller counts as a failed check. Otherwise it
    prints the end-to-end metrics."""
    if not trace:
        return {k: {"value": e2e[k], "unit": u} for k, u in metric_units("end_to_end").items()}, []
    units = metric_units("per_layer")
    missing = sorted(k for k in units if k in applicable and k not in layers)
    return {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in units.items()}, missing


def run_all(args) -> int:
    """Every workload, each in a fresh process; prints each one's report."""
    rc = 0
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        print(f"## {name}", flush=True)
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        sys.stdout.write(out.stdout)
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
        try:
            res = json.loads(last)
        except json.JSONDecodeError:
            res = {}
        line = "  ".join(f"{k}={m['value']:.4g}{m['unit']}" for k, m in res.get("metrics", {}).items())
        print(f"## {name} correct={res.get('correct')} attempted={res.get('attempted')} failed={res.get('failed')} {line}", flush=True)
        rc = rc or out.returncode or (0 if res.get("correct") else 1)
    return rc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOAD_NAMES))
    ap.add_argument("--all", action="store_true", help="run every workload, each in a fresh process")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None, help="measured seconds at the workload's nominal pass time (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # A terminated run still stops its JVM and Postgres (finally blocks).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "mdb_to_postgres_spark", "__init__.py")):
        print("perfbench: the engine package is missing; run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.seconds is None:
        args.seconds = float(read_benchmark_json()["run_seconds"])
    if args.all:
        return run_all(args)
    if not args.workload:
        ap.error("--workload or --all is required")
    result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
