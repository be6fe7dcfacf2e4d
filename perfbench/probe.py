"""Host stamps, process-tree CPU/RSS sampling and the Spark plan-metric walker.

Nothing here starts a thread or touches Spark at import time.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    """Cores this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def session_pids() -> list[int]:
    sid = os.getsid(0)
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
        except OSError:
            continue
        fields = raw[raw.rfind(")") + 2:].split()
        if len(fields) > 3 and int(fields[3]) == sid:
            pids.append(int(name))
    return pids


def session_tree_rss_mb() -> float:
    """Resident memory of every live process in this POSIX session: the
    benchmark process, the Spark JVM and its Python workers."""
    total = 0
    for pid in session_pids():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * _PAGE / (1024.0 * 1024.0)


class RssPeak:
    """Samples the session tree's RSS every `interval_s` while open and
    keeps the maximum. One sampling thread; it reads /proc only."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, session_tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssPeak":
        self.peak_mb = session_tree_rss_mb()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, session_tree_rss_mb())


class CpuClock:
    """Wall, own-tree CPU and host busy CPU over one interval."""

    def __init__(self):
        from ocr_service_spark.bench_probe import (
            host_cpu_seconds,
            session_tree_cpu_seconds,
        )

        self._tree = session_tree_cpu_seconds
        self._host = host_cpu_seconds
        self.wall_s = self.cpu_s = self.host_cpu_s = 0.0

    def __enter__(self) -> "CpuClock":
        self._c0 = self._tree()
        self._h0 = self._host()
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self.start
        self.cpu_s = self._tree() - self._c0
        self.host_cpu_s = self._host() - self._h0

    @property
    def foreign_cpu_s(self) -> float:
        return self.host_cpu_s - self.cpu_s


# -- Spark plan-metric walker ------------------------------------------------


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def plan_nodes(plan) -> list[dict]:
    """Flatten an executed physical plan into {name, parent, metrics} dicts.

    Walks through AdaptiveSparkPlanExec to its final plan, into every
    query stage's and reused exchange's wrapped plan, and into
    subqueries, so metrics of AQE-materialized stages are counted once
    each. `parent` is the index of the nearest recorded ancestor.
    Metric values are Spark's raw SQLMetric values (sizes in bytes,
    `timing` metrics in ms, `nsTiming` metrics in ns). Exchanges also
    carry their output partitioning as `partitioning`."""
    out: list[dict] = []
    seen: set[int] = set()
    stack = [(plan, None)]
    while stack:
        node, parent = stack.pop()
        ident = node.id()
        if ident in seen:
            continue
        seen.add(ident)
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append((node.executedPlan(), parent))
            continue
        if cls.endswith("QueryStageExec"):
            stack.append((node.plan(), parent))
            continue
        metrics = {}
        pairs = node.metrics().toList()
        for i in range(pairs.size()):
            kv = pairs.apply(i)
            metrics[kv._1()] = int(kv._2().value())
        rec = {"name": cls, "parent": parent, "metrics": metrics}
        if cls == "ShuffleExchangeExec":
            rec["partitioning"] = node.outputPartitioning().toString()
        out.append(rec)
        me = len(out) - 1
        stack.extend((c, me) for c in _seq(node.children()))
        stack.extend((c, me) for c in _seq(node.subqueries()))
    return out


def ancestors(nodes: list[dict], node: dict) -> list[dict]:
    chain = []
    while node["parent"] is not None:
        node = nodes[node["parent"]]
        chain.append(node)
    return chain


def executed_nodes(df) -> list[dict]:
    """Plan nodes of `df`'s last execution (call after an action on df)."""
    return plan_nodes(df._jdf.queryExecution().executedPlan())


def nodes_named(nodes: list[dict], *names: str) -> list[dict]:
    return [n for n in nodes if n["name"] in names]


def metric_sum(nodes: list[dict], key: str) -> int:
    """Sum of metric `key` over `nodes`; raises if no node carries it, so
    a renamed Spark metric fails loudly instead of reading as 0."""
    vals = [n["metrics"][key] for n in nodes if key in n["metrics"]]
    if not vals:
        have = sorted({k for n in nodes for k in n["metrics"]})
        raise KeyError(f"no plan node carries metric {key!r}; have {have}")
    return sum(vals)
