"""Counters read from outside the engine: /proc CPU, py4j round trips
and Spark's own cumulative JVM-side counters.

Everything here observes the running program without changing it: CPU
comes from ``/proc`` (psutil is not assumed), py4j calls are counted by
wrapping the gateway client's ``send_command`` in this process, and the
JVM counters are read through the public-in-bytecode accessors of the
scheduler, the status store and the code generator.
"""

from __future__ import annotations

import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, str, float]]:
    """``pid -> (ppid, comm, cpu seconds incl. reaped children)``."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:  # exited while listing
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2 :].split()
        # fields[0] is state (field 3); utime..cstime are fields 14-17
        ticks = sum(int(x) for x in fields[11:15])
        out[int(entry)] = (int(fields[1]), comm, ticks / CLK_TCK)
    return out


def tree_cpu() -> dict[str, float]:
    """CPU seconds of this process tree, split into the Python driver,
    the JVM, and the JVM's Python workers (everything below ``java``).

    Each process contributes its own user+system time plus that of its
    reaped children, so short-lived forked workers are counted through
    the daemon that waited for them.
    """
    root = os.getpid()
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    split = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    stack = [(root, "driver")]
    while stack:
        pid, role = stack.pop()
        if pid not in table:
            continue
        _, comm, cpu = table[pid]
        if pid != root:
            role = "jvm" if comm == "java" else ("pyworker" if role == "jvm" else role)
        split[role] += cpu
        stack.extend((c, role) for c in children.get(pid, ()))
    return split


def host_cpu_ticks() -> tuple[int, int]:
    """``(steal ticks, total ticks)`` from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


class Py4jCounter:
    """Counts py4j round trips made by this process while installed."""

    def __init__(self, spark):
        self.calls = 0
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = None

    def install(self) -> None:
        orig = self._orig = self._client.send_command

        def counted(*args, **kwargs):
            self.calls += 1
            return orig(*args, **kwargs)

        self._client.send_command = counted

    def uninstall(self) -> None:
        if self._orig is not None:
            self._client.send_command = self._orig
            self._orig = None


STAGE_FIELDS = (
    ("tasks", "numCompleteTasks", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
)


class JvmCounters:
    """Cumulative JVM-side counters. Job, stage and codegen deltas never
    depend on the status store's retention window; per-stage data is
    read for each stage id the scheduler allocated in an interval."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._dag = self._sc.dagScheduler()
        self._store = self._sc.statusStore()
        self._bus = self._sc.listenerBus()
        codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen
        self._codegen = codegen.CodeGenerator
        self._compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def ids(self) -> tuple[int, int]:
        """Next job id and next stage id the scheduler will hand out."""
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def codegen(self) -> tuple[float, int]:
        """Cumulative (compile seconds, compilations)."""
        return self._codegen.compileTime() * 1e-9, self._compiles.getCount()

    def stage_totals(self, first_stage: int, end_stage: int) -> dict[str, float]:
        """Sum per-stage data over stage ids ``[first_stage, end_stage)``.

        Waits for the listener bus first, so the stages of the action
        that just returned are final. Skipped stages ran nothing and are
        not counted; ``missing`` counts ids the store no longer holds.
        """
        self._bus.waitUntilEmpty()
        out = {name: 0.0 for name, _, _ in STAGE_FIELDS}
        out["stages"] = 0
        out["missing"] = 0
        for sid in range(first_stage, end_stage):
            try:
                data = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — py4j NoSuchElementException
                out["missing"] += 1
                continue
            if data.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for name, getter, scale in STAGE_FIELDS:
                out[name] += getattr(data, getter)() * scale
        return out


class Clock:
    """Wall clock plus process-tree CPU, read together."""

    def __init__(self):
        self.wall = time.perf_counter()
        self.cpu = tree_cpu()

    def since(self, start: "Clock") -> tuple[float, dict[str, float]]:
        return self.wall - start.wall, {k: self.cpu[k] - start.cpu[k] for k in self.cpu}
