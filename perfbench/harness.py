"""Session start, spans, statistics and run conditions for the benchmark.

Nothing here reaches into the library: spans wrap the benchmark's own
calls into the modules' public functions, and every count is read from
Spark's job-group tags and event log.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import resource
import shlex
import time

#: C1-only JIT for the driver JVM, with the code cache the JVM reserves
#: by default for tiered compilation; the heap and everything else stay
#: at the library's defaults. Measured on a 4-vCPU VM with
#: ten-thousand-row ETL batches back to back in one JVM: with C2 on, the
#: JIT spent 64, 33, 21, 20 and 19 CPU seconds per batch and never
#: settled, and three seeded runs timed their batch at 16, 20 and 27 s;
#: with C1 alone it spent 12, 3, 2 and 1.5 CPU seconds and batches took
#: 30, 14, 12 and 12 s, about what C2 reached after five batches. C1
#: alone shrinks the default code cache to 48 MB, which Spark filled
#: during the second batch, and the JVM then disabled compilation; hence
#: the explicit size. The cost: generated code runs C1-compiled.
JIT_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"


def tail(samples) -> tuple[float, float, int] | None:
    """The highest percentile of ``samples`` with at least ten samples
    beyond it, as ``(value, percentile, n)``; ``None`` below 11 samples."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return None
    return s[n - 11], 100.0 * (n - 10) / n, n


def spark_env(root: str, work: str, event_dir: str | None, master: str) -> None:
    """Environment for the session the benchmark starts: Python workers
    import the package from the checkout whatever the working directory,
    and every scratch, shuffle and temp file stays under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in the machine's /tmp, from the launcher JVM or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    confs = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JIT_OPTIONS}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.eventLog.enabled": "true" if event_dir else "false",
    }
    if event_dir:
        confs.update({
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = ["--master", master]
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_session(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for both."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    """Peak resident memory so far of the driver JVM plus this Python
    process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def peak_heap_mb(spark) -> float:
    """Sum over the driver JVM's heap pools of their peak used bytes."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    heap = mf.getMemoryPoolMXBeans()
    used = sum(p.getPeakUsage().getUsed() for p in heap if str(p.getType()) == "Heap memory")
    return used / 2**20


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every live
    descendant (the driver JVM and its Python workers), each with the
    CPU time of the children it has reaped."""
    parent, cpu = {}, {}
    tick = os.sysconf("SC_CLK_TCK")
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while the table was read
            continue
        parent[int(pid)] = int(fields[1])
        cpu[int(pid)] = sum(int(x) for x in fields[11:15]) / tick
    me, total = os.getpid(), 0.0
    for pid, c in cpu.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += c
    return total


def jvm_gc_jit_s(spark) -> tuple[float, float]:
    """Cumulative (garbage-collection, JIT-compilation) seconds of the
    driver JVM."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return gc_ms / 1000.0, mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0


def steal_ticks() -> tuple[int, int]:
    """(steal, all) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def conditions(spark, seed: int, sizes: dict) -> dict:
    """The headline bench's environment stamp plus what this run used."""
    from bench import env_stamp

    stamp = env_stamp(spark)
    stamp.update(
        master=spark.sparkContext.master,
        shuffle_partitions=spark.conf.get("spark.sql.shuffle.partitions"),
        driver_memory=spark.conf.get("spark.driver.memory"),
        jvm_args=list(spark.sparkContext._jvm.java.lang.management.ManagementFactory
                      .getRuntimeMXBean().getInputArguments()),
        seed=seed,
        input_sizes=sizes,
    )
    return stamp


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory. When
    enabled, each span also tags the Spark jobs it launches with a job
    group named after the span id; when disabled it records nothing."""

    def __init__(self, spark_context, enabled: bool, run_id: str):
        self.sc = spark_context
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.phase = "setup"
        self._stack: list[dict] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": f"{self.run_id}:{next(self._ids)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "phase": self.phase,
            **attrs,
        }
        self._stack.append(span)
        self.sc.setJobGroup(span["id"], name)
        span["start"] = time.perf_counter()
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setJobGroup("", "")
            self.spans.append(span)

    def descendants(self, span_id: str) -> list[dict]:
        children: dict[str, list[dict]] = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        out, todo = [], [span_id]
        while todo:
            for child in children.get(todo.pop(), ()):
                out.append(child)
                todo.append(child["id"])
        return out
