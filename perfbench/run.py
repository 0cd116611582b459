"""Benchmark entry point.

    python3 perfbench/run.py --workload transit_batch --seed 1 --seconds 5 --trace 0

Runs one workload (or ``all`` of them, one after another in one Spark
session) against the engine in this checkout, checks its outputs, and
prints one line per metric (workload, name, value, unit, sample count)
followed, as the last line, by one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs the timed phase
twice, first with spans around every layer call and then plain, and
reports the per-layer metrics plus the tracing overhead. The exit code
is 1 when an operation or a correctness check failed, 2 when the engine
cannot be imported.

Generated inputs are cached under ``.bench_build/perfbench/inputs``,
keyed by generator source and seed. Spark's local, temp and
warehouse dirs, the per-pass data roots and the result files
(environment, metrics, spans) live under ``.bench_build/perfbench`` too,
so a run leaves tracked files untouched. METRICS.md describes every
metric and which layer metric should move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"

WORKLOADS = ["transit_batch", "gate_sweep"]
DRIVER_MEM = "2g"            # well below the RAM of a 4-core, 15 GB box

E2E = {  # name -> unit
    "setup_s": "s", "pass_s": "s", "op_p50_ms": "ms", "op_geomean_ms": "ms",
    "data_mb": "MB", "peak_rss_mb": "MB",
}

STEP_METRICS = {"wall_s": "s", "write_s": "s", "cli_self_s": "s",
                "jobs": "count", "shuffle_write_mb": "MB", "spill_mb": "MB",
                "exec_cpu_s": "s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit."""
    from workloads import GATE_QUERIES, PANELS, TRANSIT_STEPS

    out = {}
    for c in TRANSIT_STEPS:
        for m, u in STEP_METRICS.items():
            out[f"pipe.{c}.{m}"] = u
    out.update({"pipe.staging_s": "s", "pipe.rows_in": "count",
                "pipe.rows_rejected": "count", "pipe.rows_out": "count"})
    for p in PANELS:
        out.update({f"panel.{p}.p50_ms": "ms", f"panel.{p}.jobs": "count",
                    f"panel.{p}.input_mb": "MB"})
    for q in GATE_QUERIES:
        out.update({f"query.{q}.build_s": "s", f"query.{q}.exec_s": "s",
                    f"query.{q}.jobs": "count"})
    out["caching.live_registrations"] = "count"
    out["trace.overhead_s"] = "s"
    return out


def log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr,
          flush=True)


def _pin_environment() -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(BUILD / "spark-local")
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # temp files (the gateway's connection file, JVM scratch) stay in the
    # checkout too
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(BUILD / "tmp")


def _spark_conf() -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        # the whole heap committed from the start: left to grow, G1 sizes
        # it by measured GC time, and peak RSS then jumped by a quarter
        # between runs of the same input
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={BUILD / 'tmp'} "
            "-XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(BUILD / "spark-warehouse"),
        "spark.local.dir": str(BUILD / "spark-local"),
        # the traced run reads the UI's REST endpoint on 127.0.0.1
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "1000",
        "spark.sql.ui.retainedExecutions": "100",
    }


def _cached(generator, key: str, make) -> Path:
    """Generate inputs once per (generator source, key); a crash leaves no
    partial set behind."""
    version = hashlib.sha1(Path(generator.__file__).read_bytes()).hexdigest()
    final = BUILD / "inputs" / f"{generator.__name__}-{key}-{version[:10]}"
    if (final / "DONE").exists():
        return final
    tmp = final.with_name(f".{final.name}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    make(tmp)
    (tmp / "DONE").write_text("")
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


class RssSampler:
    """Peak resident memory of this process plus the driver JVM, sampled
    every ``every_s`` while the context is open."""

    def __init__(self, pids: list[int], every_s: float = 0.05):
        self.pids, self.every_s = pids, every_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb,
                               sum(self._rss_kb(p) for p in self.pids))
            self._stop.wait(self.every_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat.
    Steal is time a virtual machine's CPUs waited for the host; on a
    shared host it is the main reason run times drift."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


# ---------------------------------------------------------------------------
# per-layer metrics from the span tree
# ---------------------------------------------------------------------------

def _share(parts: float, whole: float, what: str) -> str:
    """A trace diagnostic: how much of a parent span its children cover."""
    pct = 100 * parts / whole if whole else 0.0
    flag = "" if abs(parts - whole) <= 0.05 * whole else " (NOT within 5%)"
    return f"{what} add up to {parts:.3f}s of {whole:.3f}s = {pct:.1f}%{flag}"


def _transit_layers(phase, tracer, notes, rows) -> dict:
    per: dict[str, list[float]] = {}
    staging = []
    for pspan in phase["pipelines"]:
        steps = tracer.children(pspan)
        for sp in steps:
            c = sp.name[len("cli."):]
            vals = {
                "wall_s": sp.wall,
                "write_s": tracer.outermost_time(sp, "sources.writers."),
                "cli_self_s": tracer.self_time(sp),
                "jobs": tracer.inclusive(sp, "jobs"),
                "shuffle_write_mb": tracer.inclusive(
                    sp, "shuffle_write_bytes") / 1e6,
                "spill_mb": tracer.inclusive(sp, "spill_bytes") / 1e6,
                "exec_cpu_s": tracer.inclusive(sp, "exec_cpu_ns") / 1e9,
            }
            for k, v in vals.items():
                per.setdefault(f"pipe.{c}.{k}", []).append(v)
        staging.append(tracer.outermost_time(pspan, "sources.staging."))
        notes.append(_share(sum(s.wall for s in steps), pspan.wall,
                            "pipeline: CLI step walls"))
    m = {k: _median(v) for k, v in per.items()}
    m["pipe.staging_s"] = _median(staging)
    for k in ("rows_in", "rows_rejected", "rows_out"):
        m[f"pipe.{k}"] = rows[k]
    return m


def _panel_layers(phase, tracer) -> dict:
    m: dict[str, float] = {}
    by_panel: dict[str, list] = {}
    for c in phase["calls"]:
        by_panel.setdefault(c["panel"], []).append(c)
    for p, calls in by_panel.items():
        m[f"panel.{p}.p50_ms"] = _median(c["ms"] for c in calls)
        m[f"panel.{p}.jobs"] = _median(
            tracer.inclusive(c["span"], "jobs") for c in calls)
        m[f"panel.{p}.input_mb"] = _median(
            tracer.inclusive(c["span"], "input_bytes") / 1e6 for c in calls)
    return m


def _gate_layers(phase, tracer, notes) -> dict:
    m: dict[str, float] = {}
    by_q: dict[str, list] = {}
    by_sweep: dict[int, list] = {}
    for r in phase["records"]:
        by_q.setdefault(r["query"], []).append(r)
        by_sweep.setdefault(r["sweep"].sid, []).append(r)
    for q, rs in by_q.items():
        m[f"query.{q}.build_s"] = _median(r["build"].wall for r in rs)
        m[f"query.{q}.exec_s"] = _median(r["exec"].wall for r in rs)
        m[f"query.{q}.jobs"] = _median(
            tracer.inclusive(r["build"], "jobs")
            + tracer.inclusive(r["exec"], "jobs") for r in rs)
    live = []
    for rs in by_sweep.values():
        live.append(sum(r["live"] for r in rs))
        notes.append(_share(
            sum(r["build"].wall + r["exec"].wall for r in rs),
            rs[0]["sweep"].wall, "sweep: query build + exec times"))
    m["caching.live_registrations"] = _median(live)
    return m


# ---------------------------------------------------------------------------
# one workload
# ---------------------------------------------------------------------------

def _make(name: str, spark, seed: int, work: Path):
    """The workload object and a description of its inputs."""
    import gen_gate
    import gen_transit
    import workloads as W

    if name == "gate_sweep":
        data = _cached(gen_gate, f"s{seed}",
                       lambda d: gen_gate.generate(d, seed))
        rows = json.loads((data / "tables.json").read_text())
        return W.GateSweep(spark, data), {"scale": gen_gate.SCALE,
                                          "rows": rows}
    inputs = _cached(gen_transit, f"s{seed}",
                     lambda d: gen_transit.generate(d, seed))
    ledger = json.loads((inputs / "ledger.json").read_text())
    sizes = {"ist_rows": ledger["ist"]["rows_in"],
             "weather_rows": ledger["weather"]["rows_raw"],
             "gtfs_stop_times": ledger["gtfs"]["stop_times"],
             "days": ledger["days"]}
    return W.TransitBatch(spark, inputs, ledger, work, seed), sizes


def run_workload(name: str, spark, seed: int, seconds: float, trace: bool,
                 pids: list[int], session_s: float, work: Path) -> dict:
    import spans
    import workloads as W

    wl, sizes = _make(name, spark, seed, work / name)
    out = W.Outcome()
    log(f"{name}: set-up")
    setup_s = session_s + wl.setup()
    passes: dict[str, list[float]] = {}
    layer: dict[str, float] = {}
    notes: list[str] = []
    tracer = traced = None
    if trace:
        # traced phase first: the JVM is still warming, so the plain phase
        # after it runs a little faster and trace.overhead_s errs high
        log(f"{name}: traced phase")
        tracer = spans.Tracer(spark, run_id=f"pb{os.getpid()}")
        patches = spans.install(tracer)
        try:
            traced = wl.timed(seconds, out, tracer)
        finally:
            spans.uninstall(patches)
        tracer.collect_counters()
        passes["traced"], out.pass_s, out.ops = out.pass_s, [], []
    log(f"{name}: timed phase")
    steal0, total0 = _cpu_ticks()
    with RssSampler(pids) as rss:
        wl.timed(seconds, out)
    steal1, total1 = _cpu_ticks()
    steal = (steal1 - steal0) / max(1, total1 - total0)
    passes["plain"] = list(out.pass_s)
    metrics = {
        "setup_s": setup_s,
        "pass_s": _median(out.pass_s),
        "op_p50_ms": _median(ms for _, ms in out.ops),
        "op_geomean_ms": _geomean([ms for _, ms in out.ops]),
        "peak_rss_mb": rss.peak_kb / 1024,
    }
    samples = {"pass_s": len(out.pass_s), "op_p50_ms": len(out.ops),
               "op_geomean_ms": len(out.ops)}
    log(f"{name}: passes {passes}; cpu steal {steal:.1%}; checks")
    checked = wl.check(out)
    log(f"{name}: checks done")
    metrics["data_mb"] = checked["data_mb"]
    samples["data_mb"] = checked.get("data_mb_n", 1)
    if trace:
        layer["trace.overhead_s"] = (_median(passes["traced"])
                                     - metrics["pass_s"])
        if name == "transit_batch":
            layer.update(_transit_layers(traced, tracer, notes, checked))
            layer.update(_panel_layers(traced, tracer))
        else:
            layer.update(_gate_layers(traced, tracer, notes))
    wl.close()
    return {"workload": name, "out": out, "metrics": metrics,
            "layer": layer, "notes": notes, "samples": samples,
            "passes": passes,
            "inputs": sizes, "cpu_steal_share": steal, "tracer": tracer}


def _env(spark, seed: int) -> dict:
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(next(ln for ln in fh
                          if ln.startswith("MemTotal")).split()[1])
    return {
        "cores": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "master": spark.sparkContext.master,
        "driver_memory": spark.sparkContext.getConf().get(
            "spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "seed": seed,
    }


def _report(r: dict, trace: bool, env: dict, seconds: float,
            stem: str) -> dict[str, tuple]:
    """Print one workload's metric lines and write its result file;
    return {metric: (value, unit)} for the JSON line."""
    out, name = r["out"], r["workload"]
    if trace:
        shown = {k: (r["layer"].get(k, 0.0), u)
                 for k, u in per_layer_units().items()}
    else:
        shown = {k: (r["metrics"][k], u) for k, u in E2E.items()}
    print(f"# {name} env={json.dumps(env)} inputs={json.dumps(r['inputs'])} "
          f"cpu_steal_share={r['cpu_steal_share']:.4f}")
    for k, (v, u) in shown.items():
        print(f"{name} {k} {v:.6g} {u} n={r['samples'].get(k, 1)}")
    print(f"{name} error_rate {out.failed / max(1, out.attempted):.6g} "
          f"fraction n={out.attempted}")
    for note in r["notes"]:
        print(f"# {name} trace: {note}")
    record = {"env": env, "workload": name, "inputs": r["inputs"],
              "trace": int(trace), "seconds": seconds,
              "samples": r["samples"], "metrics": r["metrics"],
              "per_layer": r["layer"], "trace_notes": r["notes"],
              "passes": r["passes"],
              "cpu_steal_share": r["cpu_steal_share"],
              "ops": out.ops, "attempted": out.attempted,
              "failed": out.failed, "problems": out.problems}
    base = BUILD / "results" / f"{name}-{stem}"
    base.parent.mkdir(parents=True, exist_ok=True)
    base.with_suffix(".json").write_text(json.dumps(record, indent=1))
    if r["tracer"] is not None:
        r["tracer"].dump(base.with_suffix(".spans.json"))
    return shown


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _pin_environment()
    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(ROOT))
    t0 = time.perf_counter()
    try:
        from tpg_weather_etl_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    spark = get_spark(app_name="perfbench", extra_conf=_spark_conf())
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    log(f"session up in {session_s:.2f}s")
    jvm = spark.sparkContext._gateway.proc
    pids = [os.getpid(), jvm.pid]
    work = BUILD / "work" / str(os.getpid())
    env = _env(spark, args.seed)

    names = WORKLOADS if args.workload == "all" else [args.workload]
    results = []
    try:
        for name in names:
            results.append(run_workload(name, spark, args.seed, args.seconds,
                                        bool(args.trace), pids, session_s,
                                        work))
            session_s = 0.0
    finally:
        spark.stop()
        # the driver JVM exits when its stdin closes, which would
        # otherwise happen only as this process exits
        jvm.stdin.close()
        jvm.wait(timeout=120)
        shutil.rmtree(work, ignore_errors=True)
    log("session stopped")

    stem = (f"s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-"
            f"{os.getpid()}")
    metrics: dict[str, dict] = {}
    for r in results:
        shown = _report(r, bool(args.trace), env, args.seconds, stem)
        prefix = f"{r['workload']}." if len(results) > 1 else ""
        for k, (v, u) in shown.items():
            metrics[prefix + k] = {"value": v, "unit": u}
        for p in r["out"].problems:
            print(f"FAILED {r['workload']}: {p}", file=sys.stderr)
    attempted = sum(r["out"].attempted for r in results)
    failed = sum(r["out"].failed for r in results)
    print(json.dumps({"correct": failed == 0, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
