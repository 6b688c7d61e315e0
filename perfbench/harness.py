"""Session lifecycle and the timed pass loop shared by both kinds of run."""

from __future__ import annotations

import os
import sys
import time

DRIVER_MEMORY = "2g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by ``root`` (this process by
    default) and every live descendant, including their reaped children:
    the Spark JVM and its Python workers."""
    parent, used = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we looked
        parent[int(d)] = int(fields[1])
        used[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    todo, total = [root or os.getpid()], 0
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


class Engine:
    """One local Spark session at a time on one JVM the run launches."""

    def __init__(self, scratch: str) -> None:
        self.scratch = scratch
        self.spark = None

    def start(self, event_log_dir: str | None = None) -> float:
        """Launch the JVM and build the session; return build_session's time."""
        from cehrbert_data_spark.session import build_session

        confs = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.scratch} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log_dir:
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
            })
        t0 = time.time()
        self.spark = build_session("perfbench", master=f"local[{cpus()}]", extra_confs=confs)
        return time.time() - t0

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def stop(self) -> None:
        """Stop the session and end the JVM."""
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        if self.spark is None:
            return
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        SparkSession._instantiatedSession = None
        SparkSession._activeSession = None
        self.spark = None


class NoTracer:
    """Stand-in for :class:`trace.Tracer` in untraced passes."""

    enabled = False

    def span(self, name):
        from contextlib import nullcontext

        return nullcontext()


def timed_passes(wl, seconds: float, tracer, min_passes: int) -> tuple[list, list, int, int]:
    """Run passes until ``seconds`` have elapsed and at least ``min_passes``
    ran; return (pass walls, pass CPU seconds, operations attempted,
    operations failed)."""
    walls, cpu, attempted, failed = [], [], 0, 0
    start = time.time()
    while len(walls) < min_passes or time.time() - start < seconds:
        t0, c0 = time.time(), tree_cpu_s()
        try:
            ops = wl.run_pass(tracer)
        except Exception as exc:  # noqa: BLE001 - a pass that raises is a failed operation
            print(f"perfbench: pass failed: {exc}"[:400], file=sys.stderr)
            ops = None
        walls.append(time.time() - t0)
        cpu.append(tree_cpu_s() - c0)
        if ops is None:
            attempted += 1
            failed += 1
            continue
        attempted += len(ops)
        try:
            failed += wl.check_pass()
        except Exception as exc:  # noqa: BLE001 - an unreadable result is a wrong one
            print(f"perfbench: check failed: {exc}"[:400], file=sys.stderr)
            failed += len(ops)
    return walls, cpu, attempted, failed


def setup(engine: Engine, wl_factory, event_log_dir: str | None = None):
    """The run's one set-up: launch the JVM, build the session (with the
    event log if one is asked for) and warm up. Returns (workload, set-up
    seconds, build_session seconds)."""
    t0 = time.time()
    build = engine.start(event_log_dir)
    wl = wl_factory(engine.spark)
    wl.warmup()
    return wl, time.time() - t0, build
