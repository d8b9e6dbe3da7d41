"""Spans, Spark job-group counters and process-tree RSS sampling.

Layers are measured only from outside the program: a span wraps one call
into a module's public function, and every Spark job that call starts is
tagged with the span's job group (``SparkContext.setJobGroup``), so the
per-stage counters read back from ``statusTracker()`` and the status REST
API (live only when the session runs with the UI on) can be assigned to
the span afterwards. Spans are kept in memory and written out at the end.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
import urllib.request


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        # time spent in the tracer's own bookkeeping while spans are open:
        # what tracing adds to a traced pass, minus the UI's listener work
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, layer: str, name: str, probe: bool = False):
        entered = time.perf_counter()
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "parent": parent["id"] if parent else None,
             "layer": layer, "name": name, "probe": probe,
             "group": f"perfbench-{os.getpid()}-{len(self.spans)}"}
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(s["group"], name)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += (s["start"] - entered) + (time.perf_counter() - s["end"])

    def wrap(self, module, attr: str, layer: str, restore: list):
        """Replace ``module.attr`` with a span-recording wrapper; the
        original goes onto ``restore`` for :func:`unwrap_all`."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, attr):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)
        restore.append((module, attr, fn))

    # -- Spark counters --------------------------------------------------

    def collect_counters(self, spans: list[dict]) -> None:
        """Attach jobs/stages/tasks and REST stage metrics to each span."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        rest = _rest_stage_metrics(sc)
        for s in spans:
            jobs = sorted(tracker.getJobIdsForGroup(s["group"]))
            stages, last_stages = set(), []
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                ids = list(info.stageIds) if info else []
                stages.update(ids)
                ran = [i for i in ids if rest.get(i, {}).get("numTasks", 0) > 0]
                if ran:
                    last_stages.append(max(ran))
            ran = [rest[i] for i in stages if rest.get(i, {}).get("numTasks", 0) > 0]
            s["spark"] = {
                "jobs": len(jobs),
                "stages": len(ran),
                "tasks": sum(m["numTasks"] for m in ran),
                "executor_cpu_s": sum(m["executorCpuTime"] for m in ran) / 1e9,
                "gc_s": sum(m["jvmGcTime"] for m in ran) / 1e3,
                "shuffle_write_mb": sum(m["shuffleWriteBytes"] for m in ran) / 2**20,
                "spill_mb": sum(m["memoryBytesSpilled"] + m["diskBytesSpilled"] for m in ran) / 2**20,
                # tasks of the final stage of the span's last job: the
                # stage that writes a sink's output
                "last_stage_tasks": rest[max(last_stages)]["numTasks"] if last_stages else 0,
            }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def unwrap_all(restore: list) -> None:
    for module, attr, fn in reversed(restore):
        setattr(module, attr, fn)
    restore.clear()


def _rest_stage_metrics(sc) -> dict[int, dict]:
    """stageId → summed metrics over its attempts, from the status REST
    API; empty when the UI (and with it the API) is off."""
    url = sc.uiWebUrl
    if not url:
        return {}
    api = f"{url}/api/v1/applications/{sc.applicationId}/stages?status=complete"
    with urllib.request.urlopen(api, timeout=30) as resp:
        attempts = json.load(resp)
    keys = ("numTasks", "executorCpuTime", "jvmGcTime", "shuffleWriteBytes",
            "memoryBytesSpilled", "diskBytesSpilled")
    out: dict[int, dict] = {}
    for a in attempts:
        m = out.setdefault(a["stageId"], dict.fromkeys(keys, 0))
        for k in keys:
            m[k] += a.get(k, 0) or 0
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id → duration minus the part its child spans cover."""
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] is not None and s["parent"] in child:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


class RssSampler:
    """Peak resident memory of this process and every descendant (the
    driver JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _run(self):
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss(root))
            self._stop.wait(self.interval)

    def _tree_rss(self, root: int) -> int:
        parent, rss = {}, {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            pid = int(name)
            parent[pid] = int(fields[1])
            rss[pid] = int(fields[21]) * self._page
        total = 0
        for pid in rss:
            p = pid
            while p and p != root:
                p = parent.get(p, 0)
            if p == root:
                total += rss[pid]
        return total



def host_cpu_s() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of this host's CPUs so far, from
    /proc/stat. Stolen time is time a virtual CPU wanted to run while the
    hypervisor ran something else; it is 0 on bare metal."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    tick = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / tick, steal / tick


@contextlib.contextmanager
def timed():
    """Time a block: ``wall`` seconds, the share of the CPU time wanted
    during it that the hypervisor stole, and ``s`` = wall x (1 - that
    share), the time the block takes when nothing is stolen. The benchmark
    is the only busy process on its host while it times, so the host-wide
    counters stand for its own threads."""
    t: dict = {}
    busy0, stolen0 = host_cpu_s()
    start = time.perf_counter()
    try:
        yield t
    finally:
        t["wall"] = time.perf_counter() - start
        busy1, stolen1 = host_cpu_s()
        busy, stolen = busy1 - busy0, stolen1 - stolen0
        t["steal_share"] = stolen / (busy + stolen) if busy + stolen > 0 else 0.0
        t["s"] = t["wall"] * (1 - t["steal_share"])
