"""Benchmark entry point.

    python3 perfbench/run.py --workload cohort_transform --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. Generates the workload's inputs
from ``--seed`` under ``.perfbench_work/``, starts a Spark session (its
time is ``setup_s``), then runs the workload as a closed loop — one
client, next pass only after the previous one finished — on
``local[nproc]`` for ``--seconds``, at least one pass, checking every
pass's outputs. The last stdout line is one JSON object; ``--trace 1``
reports the per-layer metrics instead of the end-to-end ones. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict
from pathlib import Path

STARTED = time.monotonic()
# probes start only before this many seconds into the run, so that a traced
# run on a slow host still ends within the benchmark's 180 s per run
PROBE_DEADLINE_S = 145
# above this share of stolen CPU time, removing it no longer makes a pass
# comparable with one on a quiet host (README.md, "Time on a shared host")
MAX_STEAL_SHARE = 0.30

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402

END_TO_END = {"setup_s": "s", "run_s": "s", "records_per_s": "1/s", "peak_rss_mb": "MB"}

# layers with spans inside the timed pass (self time reported)
SELF_LAYERS = ("pass", "pipeline", "sources", "fhirize", "membership", "group", "ndjson",
               "upsert", "validate")
# layers whose spans (in the pass or in probes) carry Spark counters
COUNTER_LAYERS = ("pipeline", "sources", "functions", "fhirize", "serialize", "ndjson",
                  "membership", "group", "upsert", "validate", "text", "dedup",
                  "contamination", "datasets")
SPARK_KEYS = ("jobs", "stages", "tasks", "executor_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb")
LAYER_COUNTERS = {"tasks": "spark_tasks", "executor_cpu_s": "executor_cpu_s",
                  "shuffle_write_mb": "shuffle_write_mb"}
PER_LAYER_UNITS = {
    "host.cores": "count", "host.loadavg_1m": "load", "host.steal_share": "ratio",
    "session.start_s": "s",
    "trace.overhead_s": "s", "trace.traced_run_s": "s", "trace.spans": "count",
    **{f"spark.{k}": u for k, u in zip(SPARK_KEYS, ("count", "count", "count", "s", "s", "MB", "MB"))},
    **{f"{layer}.self_s": "s" for layer in SELF_LAYERS},
    "sources.scan_s": "s", "sources.rows": "count", "sources.partitions": "count",
    "functions.uuid5_exec_s": "s", "functions.uuid5_mints": "count",
    "fhirize.plan_s": "s", "fhirize.exec_s": "s", "fhirize.rows": "count",
    "serialize.exec_s": "s", "serialize.bytes": "bytes",
    "ndjson.write_s": "s", "ndjson.bytes": "bytes", "ndjson.write_stage_tasks": "count",
    "ndjson.cpu_util": "ratio",
    "membership.exec_s": "s", "membership.found": "count", "membership.missing": "count",
    "membership.readback_bytes": "bytes",
    "group.exec_s": "s", "group.members": "count",
    "upsert.merge_s": "s", "upsert.bytes_read": "bytes", "upsert.bytes_written": "bytes",
    "upsert.rows_written": "count", "upsert.useful_ratio": "ratio", "sinks.write_amp": "ratio",
    "validate.exec_s": "s", "validate.lines": "count", "validate.errors": "count",
    "validate.spark_jobs": "count",
    "text.gate_s": "s", "text.docs_out": "count", "dedup.exact_s": "s",
    "dedup.exact_docs_out": "count", "dedup.pairs_s": "s", "dedup.pairs": "count",
    "dedup.cluster_s": "s", "dedup.near_docs_out": "count", "contamination.exec_s": "s",
    "contamination.docs_out": "count", "datasets.split_s": "s", "datasets.docs_out": "count",
    **{f"{layer}.{name}": u for layer in COUNTER_LAYERS
       for name, u in zip(LAYER_COUNTERS.values(), ("count", "s", "MB"))},
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def host_hygiene(work: Path, trace: bool) -> int:
    """Pin the session to this host's cores and a driver heap below its
    RAM, keep the UI off unless tracing, keep every temp file inside the
    work directory and make the package importable on Python workers
    without relying on the working directory."""
    cores = len(os.sched_getaffinity(0))
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_GRAFT_UI": "true" if trace else "false",
        "TMPDIR": str(work / "tmp"),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join([str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
    })
    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))
    os.chdir(work)
    return cores


def start_session(work: Path):
    from fhir_etl_spark.session import get_spark, ship_package

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:+AlwaysPreTouch",
        "spark.local.dir": str(work / "local"),
        "spark.ui.showConsoleProgress": "false",
    })
    started = time.perf_counter() - t0
    ship_package(spark)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, started


def descendants(root: int) -> dict[int, str]:
    """pid → start time of every live process below ``root``, from /proc."""
    parent, start = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            parent[int(name)], start[int(name)] = int(fields[1]), fields[19]
    out = {}
    for pid in parent:
        p = parent[pid]
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            out[pid] = start[pid]
    return out


def alive(pid: int, start: str) -> bool:
    """Whether ``pid`` is still the process that started at ``start`` and
    has not ended (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return False
    return fields[0] != "Z" and fields[19] == start


def stop_processes() -> None:
    """Stop Spark, its JVM and every other process this run started, and
    wait until each has ended. Left alone, the JVM exits only after this
    process has (on end of file on its stdin) and outlives the run."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:
            log(traceback.format_exc(limit=3))
    gateway = SparkContext._gateway
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            log(traceback.format_exc(limit=3))
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        left = {p: s for p, s in started.items() if alive(p, s)}
        for pid in left:
            with contextlib.suppress(OSError):
                os.kill(pid, sig)
        deadline = time.monotonic() + grace
        while left and time.monotonic() < deadline:
            with contextlib.suppress(ChildProcessError):
                os.waitpid(-1, os.WNOHANG)
            left = {p: s for p, s in left.items() if alive(p, s)}
            time.sleep(0.05)
        if not left:
            return
    log(f"perfbench: processes {sorted(left)} did not end")


class Run:
    """One benchmark invocation: attempted/failed bookkeeping + passes."""

    def __init__(self, workload):
        self.w = workload
        self.attempted = self.failed = 0
        self.steal_share = 0.0  # of the last pass
        self.peak_rss_bytes = 0  # over the passes, not the checks
        self.failures: list[str] = []

    def one_pass(self) -> tuple[float, int] | None:
        """Seconds of one pass without stolen CPU time, and its records."""
        from spans import RssSampler, timed

        self.w.reset()
        try:
            with timed() as t, RssSampler() as rss:
                records = self.w.run_pass()
        except Exception:  # a failed layer call: count it, keep measuring
            self.attempted += max(self.w.calls, 1)
            self.failed += 1
            self.failures.append(traceback.format_exc(limit=3))
            return None
        log(f"pass: {t['wall']:.3f} s wall, {t['steal_share']:.1%} of wanted CPU stolen, {t['s']:.3f} s")
        if t["steal_share"] > MAX_STEAL_SHARE:
            log(f"warning: more than {MAX_STEAL_SHARE:.0%} stolen; this host is too busy for steady figures")
        self.steal_share = t["steal_share"]
        self.peak_rss_bytes = max(self.peak_rss_bytes, rss.peak_bytes)
        self.attempted += self.w.calls
        self.verify()
        return t["s"], records

    def verify(self) -> None:
        """Check the pass's outputs; every check counts as attempted."""
        for name, ok, detail in self.w.check():
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.failures.append(f"check {name} failed: {detail}")

    def loop(self, seconds: float) -> list[tuple[float, int]]:
        """Closed loop, one client: passes back to back until ``seconds``
        of measuring have elapsed, at least one."""
        done, t0 = [], time.perf_counter()
        while not done or time.perf_counter() - t0 < seconds:
            r = self.one_pass()
            if r is not None:
                done.append(r)
            elif self.failed >= 3:
                break
        return done


def median_of(passes, i):
    return statistics.median(p[i] for p in passes)


def layer_metrics(spans: list[dict], workload, cores: int) -> dict:
    """Per-layer metrics of one traced pass."""
    from spans import self_times

    st = self_times(spans)
    by = defaultdict(list)
    for s in spans:
        by[s["layer"]].append(s)

    def dur(layer):
        return sum(s["end"] - s["start"] for s in by[layer])

    def spark(layer, key):
        return sum(s["spark"][key] for s in by[layer])

    m = {f"{layer}.self_s": sum(st[s["id"]] for s in by[layer]) for layer in SELF_LAYERS}
    m.update({f"spark.{k}": sum(s["spark"][k] for s in spans) for k in SPARK_KEYS})
    write_s = dur("ndjson")
    m.update({
        "fhirize.plan_s": dur("fhirize"),
        "ndjson.write_s": write_s,
        "ndjson.write_stage_tasks": spark("ndjson", "last_stage_tasks"),
        "ndjson.cpu_util": spark("ndjson", "executor_cpu_s") / (write_s * cores) if write_s else 0.0,
        "upsert.merge_s": dur("upsert"),
        "validate.exec_s": dur("validate"),
        "validate.spark_jobs": spark("validate", "jobs"),
    })
    sinks = workload.sink_stats()
    nd, up = sinks.get("ndjson", {}), sinks.get("upsert", {})
    written = nd.get("bytes_written", 0) + up.get("bytes_written", 0)
    useful = nd.get("useful_bytes", 0) + up.get("useful_bytes", 0)
    m.update({
        "ndjson.bytes": nd.get("bytes_written", 0),
        "upsert.bytes_read": up.get("bytes_read", 0),
        "upsert.bytes_written": up.get("bytes_written", 0),
        "upsert.rows_written": up.get("rows_written", 0),
        "upsert.useful_ratio": up["useful_rows"] / up["rows_written"] if up.get("rows_written") else 0.0,
        "sinks.write_amp": written / useful if useful else 0.0,
    })
    for layer in COUNTER_LAYERS:
        for key, name in LAYER_COUNTERS.items():
            m[f"{layer}.{name}"] = spark(layer, key)
    return m


def add_probe_counters(m: dict, probe_spans: list[dict]) -> None:
    """Add the Spark counters of the probe spans to their layers; a
    cumulative-prefix probe contributes only its increase over the
    prefix before it."""
    prev = None
    for s in probe_spans:
        counters = dict(s["spark"])
        if s.get("prefix"):
            if prev is not None:
                counters = {k: v - prev[k] for k, v in s["spark"].items()}
            prev = s["spark"]
        for key, name in LAYER_COUNTERS.items():
            m[f"{s['layer']}.{name}"] += counters[key]
    m["sources.partitions"] = sum(s["spark"]["tasks"] for s in probe_spans if s["layer"] == "sources")


def run(args, work: Path) -> dict:
    cores = host_hygiene(work, args.trace)
    loadavg = os.getloadavg()[0]
    from workloads import WORKLOADS

    truth = gen.GENERATORS[args.workload](args.seed, str(work / "inputs"))

    # set-up: JVM + session start + ship_package, what every CLI run pays
    from spans import timed

    with timed() as t:
        spark, session_start = start_session(work)
    setup_s = t["s"]
    w = WORKLOADS[args.workload](spark, str(work / "inputs"), str(work / "full"), truth)
    w.prepare()
    r = Run(w)
    if not args.trace:
        passes = r.loop(args.seconds)
        metrics = {
            "setup_s": setup_s,
            "run_s": median_of(passes, 0) if passes else 0.0,
            "records_per_s": median_of(passes, 1) / median_of(passes, 0) if passes else 0.0,
            "peak_rss_mb": r.peak_rss_bytes / 2**20,
        }
        units = END_TO_END
    else:
        metrics = traced_metrics(args, r, w, spark, cores, session_start, loadavg)
        units = PER_LAYER_UNITS
    for f in r.failures:
        log(f)
    for name, value in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {units[name]}")
    return {
        "correct": r.failed == 0,
        "attempted": max(r.attempted, 1),
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def traced_metrics(args, r: Run, w, spark, cores, session_start, loadavg) -> dict:
    """One traced pass — cold, like the untraced runs' pass, so its layer
    times explain their ``run_s`` — then the probes."""
    from spans import Tracer, unwrap_all

    tracer = Tracer(spark)
    restore: list = []
    w.instrument(tracer, restore)
    run_pass = w.run_pass

    def pass_with_root(_tracer=None):
        w.sinks = []
        with tracer.span("pass", "pass"):
            return run_pass(tracer)

    w.run_pass = pass_with_root
    try:
        traced = r.one_pass()
    finally:
        w.run_pass = run_pass
        unwrap_all(restore)
    overhead_s = tracer.overhead_s
    pass_spans = list(tracer.spans)
    tracer.collect_counters(pass_spans)
    m = layer_metrics(pass_spans, w, cores) if traced else {}

    probe = w.probes(tracer, STARTED + PROBE_DEADLINE_S)
    probe_spans = tracer.spans[len(pass_spans):]
    tracer.collect_counters(probe_spans)
    if m:
        add_probe_counters(m, probe_spans)
    m.update(probe)
    m.update({
        "host.cores": cores, "host.loadavg_1m": loadavg, "session.start_s": session_start,
        "trace.traced_run_s": traced[0] if traced else 0.0,
        "host.steal_share": r.steal_share if traced else 0.0,
        "trace.overhead_s": overhead_s, "trace.spans": len(pass_spans),
    })
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    tracer.dump(str(out_dir / f"{args.workload}-seed{args.seed}-spans.json"))
    return {k: m.get(k, 0) for k in PER_LAYER_UNITS}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not (ROOT / "fhir_etl_spark" / "__init__.py").is_file():
        log(f"perfbench: no fhir_etl_spark package under {ROOT}; run from a source checkout")
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    # a terminated run still stops its processes on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args, work)
    finally:
        stop_processes()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
