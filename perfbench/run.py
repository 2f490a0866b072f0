"""Closed-loop benchmark of dronedb_spark's catalog read and write paths.

    python3 perfbench/run.py --workload catalog_query --seed 1 --seconds 30 --trace 0

Run from the root of a checkout.  One client in one process drives a
``get_spark(cpus=nproc)`` session; every input, op sequence and mutation is
derived from ``--seed``.  With ``--trace 0`` the last stdout line is a JSON
object with the end-to-end metrics; with ``--trace 1`` it holds the
per-layer metrics derived from spans.  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("catalog_query", "catalog_write")
PSS_INTERVAL = 0.5  # seconds between memory samples
GC_ROUNDS = 4  # full collections before the live heap is read


def _proc_tree(root_pid: int) -> list[int]:
    """``root_pid`` and every live descendant (JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _proc_kb(pid: int, path: str, field: str) -> int:
    """One ``field:`` line, in kB, of ``/proc/<pid>/<path>``; 0 if the
    process has ended."""
    try:
        with open(f"/proc/{pid}/{path}") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Memory:
    """Memory of the run's process tree, in MB, two ways.

    ``peak_mb``: the kernel's resident high-water mark (``VmHWM``) of the
    driver and of its JVM, which misses no peak, plus the peak proportional
    set size of the Python workers.  Workers come and go and share the
    pages forked from their daemon (PSS splits those between them), so a
    background thread samples them every ``PSS_INTERVAL`` seconds.

    ``live_mb()``: what the tree still holds at the end of the timed window
    once garbage is gone: the JVM's heap in use after full GCs plus its
    non-heap memory in use, the driver's resident set and the workers' PSS.
    The JVM's heap grows on demand by a different amount on every run, and
    its committed pages stay resident, so the peak of one workload ranged
    over 2.8-3.9 GB across five seeds while the live figure stayed within
    1%."""

    def __init__(self, spark, jvm_pid: int):
        self.spark = spark
        self.own = {os.getpid(), jvm_pid}
        self.workers_kb = 0
        self.peak_mb = 0.0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _workers(self) -> int:
        return sum(_proc_kb(pid, "smaps_rollup", "Pss")
                   for pid in _proc_tree(os.getpid()) if pid not in self.own)

    def _loop(self) -> None:
        while not self._done.wait(PSS_INTERVAL):
            self.workers_kb = max(self.workers_kb, self._workers())

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        """Stop sampling and read the high-water marks (while the JVM lives)."""
        if self._done.is_set():
            return
        self._done.set()
        self._thread.join()
        self.workers_kb = max(self.workers_kb, self._workers())
        hwm = sum(_proc_kb(pid, "status", "VmHWM") for pid in self.own)
        self.peak_mb = (hwm + self.workers_kb) / 1024.0

    def live_mb(self) -> float:
        jvm = self.spark.sparkContext._jvm
        bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        heap = []
        # Python first: a JVM object stays reachable while a Python proxy of
        # it waits in a reference cycle.  One JVM collection leaves objects
        # that only become garbage once Spark's cleaner has acted on it, so
        # the heap in use settles after a few rounds.
        for _ in range(GC_ROUNDS):
            gc.collect()
            jvm.System.gc()
            time.sleep(0.5)
            heap.append(bean.getHeapMemoryUsage().getUsed())
        self.live_parts = {
            "JVM heap": min(heap) / 2**20,
            "JVM non-heap": bean.getNonHeapMemoryUsage().getUsed() / 2**20,
            "driver": _proc_kb(os.getpid(), "status", "VmRSS") / 1024.0,
            "workers": self._workers() / 1024.0,
        }
        return sum(self.live_parts.values())


def _environment(work: str) -> None:
    """Settings the session and its workers must see before the JVM starts:
    workers import dronedb_spark from the checkout, and every temporary file
    stays inside it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file: the JVM would write it under /tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path.insert(0, ROOT)


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(_proc_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


@dataclass
class Op:
    block: int
    slot: int  # position in the block: which op kind it ran
    latency: float  # seconds in the op's own call
    cycle: float  # seconds from the start of its preparation to the end of its check
    traced: bool


class Run:
    """One workload's closed loop: warm-up blocks, then whole blocks of ops
    until ``seconds`` have passed.  A block runs the workload's op kinds in
    their fixed order and ratio, so every op sees the same amount of pending
    work in every run; the seed drives the op parameters and the inputs."""

    def __init__(self, workload, tracer):
        self.w = workload
        self.tracer = tracer
        self.ops = 0
        self.done: list[Op] = []  # timed ops that completed
        self.failed = 0
        self.blocks = 0  # timed blocks run

    def block(self, timed: bool, traced: bool) -> None:
        for slot, kind in enumerate(self.w.kinds):
            self.ops += 1
            c0 = time.perf_counter()
            p = self.w.prepare(kind)
            self.tracer.active = traced
            try:
                t0 = time.perf_counter()
                with self.tracer.op(self.ops, f"{self.w.layer}.{kind}"):
                    res = self.w.execute(kind, p)
                dt = time.perf_counter() - t0
                self.tracer.active = False
                ok = self.w.check(kind, p, res)
            except Exception:  # one failed op must not end the run
                self.tracer.active = False
                traceback.print_exc()
                dt, ok = None, False
            if timed:
                if dt is not None:
                    self.done.append(
                        Op(self.blocks, slot, dt, time.perf_counter() - c0, traced))
                self.failed += not ok
        self.blocks += timed


def _rate(ops: list[Op]) -> float:
    """Ops per second of the client's loop over ``ops``."""
    return len(ops) / sum(o.cycle for o in ops) if ops else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "dronedb_spark", "catalog", "store.py")):
        print(f"dronedb_spark not found under {ROOT}: run from a checkout", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _environment(work)
    sys.path.insert(0, HERE)
    from pyspark import SparkContext
    from spans import Tracer

    from dronedb_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark("perfbench", cpus=cpus)
    phases = {"session": time.perf_counter() - T_PROCESS}
    tracer = Tracer(spark)
    mem = Memory(spark, SparkContext._gateway.proc.pid)
    mem.start()
    try:
        if args.workload == "catalog_query":
            from catalog_query import CatalogQuery as W
        else:
            from catalog_write import CatalogWrite as W
        w = W(spark, work, args.seed, tracer)
        if args.trace:
            tracer.install()
        w.setup()
        phases["inputs"] = time.perf_counter() - T_PROCESS - phases["session"]
        run = Run(w, tracer)
        for _ in range(w.warmup_blocks):
            run.block(timed=False, traced=False)
        setup_s = time.perf_counter() - T_PROCESS
        phases["warm-up"] = setup_s - phases["inputs"] - phases["session"]

        t0 = time.perf_counter()
        # at least two blocks, so every opN has two samples on a slow host;
        # traced runs alternate traced and untraced blocks, in pairs, so the
        # tracing overhead is measured on the same warm session and op mix
        while (time.perf_counter() - t0 < args.seconds or run.blocks < 2
               or (args.trace and run.blocks % 2)):
            run.block(timed=True, traced=bool(args.trace) and run.blocks % 2 == 0)
        t_end = time.perf_counter()
        mem.stop()
        live_mb = mem.live_mb()
        disk_mb = w.disk_bytes() / 2**20
        phases["timed window"] = t_end - t0
        run.failed += w.verify()
        phases["verify"] = time.perf_counter() - t_end
    finally:
        mem.stop()
        tracer.uninstall()
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    n = len(run.done)
    attempted = run.ops - w.warmup_blocks * len(w.kinds)
    secs = [o.latency for o in run.done]
    third = max(run.blocks // 3, 1)  # whole blocks, so both thirds have the same mix
    print(f"workload {args.workload} seed {args.seed}: {attempted} ops in {run.blocks} blocks,"
          f" local[{cpus}], warm-up {w.warmup_blocks * len(w.kinds)} ops")
    print("phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
    first = _rate([o for o in run.done if o.block < third])
    last = _rate([o for o in run.done if o.block >= run.blocks - third])
    print(f"drift: ops_per_s over the first {third} of {run.blocks} blocks {first:.3f},"
          f" over the last {third} {last:.3f}")
    print(f"failed_op_share {run.failed / attempted:.4f} ({run.failed} of {attempted})")
    # one median per op kind (per block position: the two adds of a write
    # block find different pending work), each kind weighted alike
    kind_p50 = []
    for slot, kind in enumerate(w.kinds):
        k = [o.latency * 1e3 for o in run.done if o.slot == slot]
        kind_p50.append(statistics.median(k) if k else float("nan"))
        print(f"  op{slot + 1}: {w.layer}.{kind} p50 {kind_p50[-1]:.1f} ms (n={len(k)})")

    print(f"peak_mem_mb {mem.peak_mb:.6g} MB (not bounded: see live_mem_mb)")
    print("live_mem_mb parts: " + ", ".join(f"{k} {v:.1f}" for k, v in mem.live_parts.items()))
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (n / (t_end - t0), "1/s"),
            "op_p50_ms": (statistics.median(secs) * 1e3, "ms"),
            "kind_p50_gmean_ms": (statistics.geometric_mean(kind_p50), "ms"),
            "live_mem_mb": (live_mb, "MB"),
            "disk_mb": (disk_mb, "MB"),
        }
        # a p90 needs at least ten samples beyond it
        if n >= 100:
            print(f"op_p90_ms {statistics.quantiles(secs, n=10)[8] * 1e3:.6g} ms (n={n})")
        else:
            print(f"op_p90_ms not reported: {n} latency samples, fewer than 100")
    else:
        metrics = _layer_metrics(tracer, run, w)
        tracer.dump(os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json"))
    for k, (v, unit) in metrics.items():
        print(f"{k} {v:.6g} {unit}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _layer_metrics(tracer, run: Run, w) -> dict[str, tuple[float, str]]:
    """Per-layer metrics from the traced half of the run.  Every layer's
    median self time is printed, and so are the figures only one workload
    has (snapshot bytes written) or that read 0 on a correct run (failed
    tasks); the ones every workload measures are returned."""
    st = tracer.self_times()
    ops = [st.get(i, {}) for i in tracer.op_counts]
    for name in sorted({k for d in st.values() for k in d}):
        v, n = tracer.layer_ms(name)
        print(f"  {name}_ms self p50 {v:.2f} (n={n})")
    exec_ms = [d.get("spark.exec", 0.0) * 1e3 for d in ops]
    outside = [sum(d.values()) * 1e3 - e for d, e in zip(ops, exec_ms)]
    counts = list(tracer.op_counts.values())

    def total(key: str) -> int:
        return sum(c.get(key, 0) for c in counts)

    print(f"spark.failed_tasks {total('failed_tasks')} count (n={len(counts)} ops)")
    if w.changed_per_op:
        written = total("bytes_written")
        print(f"catalog.bytes_written_per_op {written / len(counts):.6g} B")
        print("catalog.bytes_written_per_changed_file"
              f" {written / (w.changed_per_op * len(counts)):.6g} B")
    return {
        "catalog.store.entries_ms": (tracer.layer_ms("catalog.store.entries")[0], "ms"),
        "spark.exec_ms": (statistics.median(exec_ms), "ms"),
        "driver.outside_actions_ms": (statistics.median(outside), "ms"),
        "spark.jobs_per_op": (total("jobs") / len(counts), "count"),
        "spark.stages_per_op": (total("stages") / len(counts), "count"),
        "spark.tasks_per_op": (total("tasks") / len(counts), "count"),
        "trace.overhead_ops_per_s": (
            _rate([o for o in run.done if o.traced])
            - _rate([o for o in run.done if not o.traced]),
            "1/s",
        ),
    }


if __name__ == "__main__":
    sys.exit(main())
