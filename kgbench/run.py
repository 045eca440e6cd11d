"""KG benchmark: cold builds and catalog lookups.

Usage (from the repository root, or any directory):

    python3 kgbench/run.py --workload {kg_build,lookup} \
        --seed N --seconds S --trace {0,1}

One process, one client thread, a ``local[nproc]`` session. The inputs
are generated from ``--seed`` (see corpus.py) and cached under
``kgbench/.cache``; scratch state goes to ``kgbench/.work`` and is removed
at exit. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (see README.md).
The line before it carries host facts and raw per-operation figures.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

N_TERMS = 2000
N_DOCS = 10000
#: unrecorded operations before the window. The first build in a JVM pays
#: JIT, code generation and Python-worker start-up (about 13 s against
#: 6 s warm on 4 cores), and the second still takes about 8 s. From the
#: third on, the builds of a run agree within 10%, so the median over
#: the window does not depend on how many builds fit in it. Per-call lookup latency
#: keeps falling for a few dozen calls (JIT of the driver-side planning
#: path)
WARM_OPS = {"kg_build": 2, "lookup": 4}


def _ram_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def _processes() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, RSS in kB) of every process in /proc."""
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    out: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{d}/statm") as fh:
                pages = int(fh.read().split()[1])
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        out[int(d)] = (ppid, pages * page_kb)
    return out


def _descendants(procs: dict[int, tuple[int, int]]) -> list[int]:
    me, found = os.getpid(), []
    for pid in procs:
        p = procs[pid][0]
        while p > 1 and p in procs:
            if p == me:
                found.append(pid)
                break
            p = procs[p][0]
    return found


def become_subreaper() -> None:
    """Have processes orphaned below this one (Spark's launcher shell,
    the Python worker daemon) re-parented here instead of to init, so
    reap_children() can wait for every process the run started."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_children(grace: float = 10.0) -> None:
    """Terminate every remaining descendant (SIGKILL after ``grace``
    seconds) and wait until none is left, zombies included."""
    deadline = time.monotonic() + grace
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no child left, running or zombie
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in _descendants(_processes()):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


class RssSampler(threading.Thread):
    """Peak summed RSS of this process's descendants (the driver JVM and
    its Python workers), sampled from /proc."""

    def __init__(self, period: float = 1.0):
        super().__init__(daemon=True)
        self.period = period
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _tree_rss_kb() -> int:
        procs = _processes()
        return sum(procs[pid][1] for pid in _descendants(procs))

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
            self._stop_evt.wait(self.period)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=10)


def start_session(work: str, traced: bool, cores: int):
    from pyobo_spark.session import get_spark
    from spans import event_log_conf

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:
        conf.update(event_log_conf(os.path.join(work, "eventlog")))
    return get_spark("kgbench", cores=cores, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired
            proc.kill()
            proc.wait(timeout=10)


class Runner:
    """Warm-up and the timed window of closed-loop operations."""

    def __init__(self, wl, tracer, seconds: float, seed: int):
        self.wl = wl
        self.tracer = tracer
        self.seconds = seconds
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        # (traced, seconds, passed its checks)
        self.op_walls: list[tuple[bool, float, bool]] = []
        self.calls: list[tuple[str, float]] = []  # (op, ms), untraced, ok

    def _fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg)

    def _span(self, name: str):
        if self.tracer is None:
            return nullcontext({})
        return self.tracer.span(name)

    def build_op(self, record: bool, traced: bool) -> tuple[float, bool]:
        wl = self.wl
        t0 = time.perf_counter()
        with self._span(f"op.{wl.name}") as attrs:
            out = wl.op()
        wall = time.perf_counter() - t0
        if self.tracer is not None:
            attrs["manifests"] = wl.manifests(out)
        errs = wl.check(out)
        if record:
            self.attempted += 1
            for err in errs:
                self._fail(err)
        return wall, not errs

    def lookup_op(self, record: bool, traced: bool) -> tuple[float, bool]:
        total, all_ok = 0.0, True
        with self._span("op.lookup"):
            for op, call, want in self.wl.lookup_pass():
                t0 = time.perf_counter()
                try:
                    with self._span(f"api.{op}") as attrs:
                        got = call()
                        attrs["n"] = len(got)
                except Exception as e:  # noqa: BLE001 — a failed call counts
                    got = e
                ms = (time.perf_counter() - t0) * 1000
                total += ms / 1000
                raised = isinstance(got, Exception)
                ok = not raised and self.wl.answer_ok(got, want)
                all_ok = all_ok and ok
                if not record:
                    continue
                self.attempted += 1
                if raised:
                    self._fail(f"{op} raised {got!r}")
                elif not ok:
                    self._fail(f"{op} answer differs from the closed form")
                elif not traced:
                    self.calls.append((op, ms))
        return total, all_ok

    def one(self, traced: bool, record: bool) -> tuple[float, bool]:
        if self.tracer is not None:
            self.tracer.active = traced
        try:
            if self.wl.name == "lookup":
                return self.lookup_op(record, traced)
            return self.build_op(record, traced)
        except Exception as e:  # noqa: BLE001 — a failed build counts
            if not record:
                raise
            self.attempted += 1
            self._fail(f"{self.wl.name} raised {e!r}")
            return float("nan"), False
        finally:
            if self.tracer is not None:
                self.tracer.active = False

    def warm(self) -> None:
        for _ in range(WARM_OPS[self.wl.name]):
            self.one(traced=False, record=False)

    def window(self) -> float:
        """Closed loop for ``seconds``. A traced run alternates untraced
        and traced operations and needs at least one of each; the seed's
        parity picks which comes first, so warm-up drift does not bias
        the overhead estimate one way across runs."""
        t0 = time.perf_counter()
        i = 0
        while True:
            traced = self.tracer is not None and (i + self.seed) % 2 == 1
            wall, ok = self.one(traced, record=True)
            self.op_walls.append((traced, wall, ok))
            i += 1
            done = time.perf_counter() - t0 >= self.seconds
            if done and (self.tracer is None or i >= 2):
                return time.perf_counter() - t0


def call_medians(r: Runner) -> dict[str, float]:
    """Median latency (ms) of each catalog op over the passed calls."""
    by_op: dict[str, list[float]] = {}
    for op, ms in r.calls:
        by_op.setdefault(op, []).append(ms)
    return {op: statistics.median(v) for op, v in by_op.items()}


def end_to_end(r: Runner, setup_s: float, peak_rss_mb: float) -> dict:
    """The end-to-end metrics over the untraced operations that passed
    their checks; empty when there are none to measure."""
    from workloads import GROUND_BATCH, MIX

    walls = [w for t, w, ok in r.op_walls if not t and ok]
    spent = sum(w for t, w, _ in r.op_walls if not t and w == w)
    if not walls:
        return {}
    wall = statistics.median(walls)
    if r.wl.name == "lookup":
        by_op = call_medians(r)
        if set(by_op) != set(MIX):
            return {}
        docs_per_s = GROUND_BATCH / (by_op["ground_df"] / 1000)
        ops_per_s = len(r.calls) / spent
        request_ms = statistics.geometric_mean(by_op.values())
    else:
        docs_per_s = r.wl.n_docs / wall
        ops_per_s = len(walls) / spent
        request_ms = wall * 1000
    vals = {
        "wall_s": (wall, "s"),
        "docs_per_s": (docs_per_s, "1/s"),
        "ops_per_s": (ops_per_s, "1/s"),
        "request_p50_ms": (request_ms, "ms"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("kg_build", "lookup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--terms", type=int, default=N_TERMS,
                    help="terms per prefix (smaller for a smoke run)")
    ap.add_argument("--docs", type=int, default=N_DOCS,
                    help="documents in the corpus")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pyobo_spark", "__init__.py")):
        print(f"kgbench: no pyobo_spark package next to {HERE}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    become_subreaper()
    # a terminated run still stops its processes and removes its state
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work =os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import pyobo_spark from the UDF closures: put the
    # repository root on their path whatever the working directory is
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # temporary files of every process (Python, the Spark launcher and the
    # driver JVM) stay inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        (f"-Djava.io.tmpdir={os.environ['TMPDIR']}", "-XX:-UsePerfData",
         os.environ.get("JAVA_TOOL_OPTIONS", ""))).strip()
    ram_mb = _ram_mb()
    # driver heap well below RAM (the session default assumes a big host)
    os.environ.setdefault(
        "SPARK_DRIVER_MEM", f"{max(1, min(2, ram_mb // 4096))}g")
    try:
        return _run(args, work, ram_mb)
    finally:
        reap_children()
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, ram_mb: int) -> int:
    import corpus
    from scaling_bench import _canary_gbps, _steal_pct, _steal_ticks
    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    host = {"nproc": cores, "ram_mb": ram_mb,
            "driver_mem": os.environ["SPARK_DRIVER_MEM"],
            "canary_gbps": _canary_gbps()}
    traced = bool(args.trace)
    rss = RssSampler()
    setup: dict[str, float] = {}

    # the corpus is generated (on a cache miss) in a second process while
    # the JVM starts, so it costs set-up time only where it is longer
    cache = os.path.join(HERE, ".cache")
    t_setup = time.perf_counter()
    gen = subprocess.Popen([sys.executable, os.path.join(HERE, "corpus.py"),
                            cache, str(args.seed), str(args.terms),
                            str(args.docs)])
    try:
        spark = start_session(work, traced, cores)
        setup["session.start_s"] = time.perf_counter() - t_setup
    finally:
        gen.wait()
    rss.start()
    try:
        if gen.returncode != 0:
            raise RuntimeError(f"corpus generation exited {gen.returncode}")
        t0 = t_setup + setup["session.start_s"]
        cdir = corpus.ensure_corpus(cache, args.seed, args.terms, args.docs)
        tables = corpus.load_tables(spark, cdir)
        setup["setup.inputs_s"] = time.perf_counter() - t0

        tracer = None
        if traced:
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.install()
        wl = WORKLOADS[args.workload](spark, tables, cdir, work, args.terms,
                                      args.docs, args.seed)
        r = Runner(wl, tracer, args.seconds, args.seed)
        t0 = time.perf_counter()
        wl.prepare()
        r.warm()
        setup["setup.warm_s"] = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_setup

        steal0 = _steal_ticks()
        window_s = r.window()
        host["steal_pct"] = _steal_pct(steal0, _steal_ticks())
        host["window_s"] = window_s
    finally:
        rss.stop()
        stop_session(spark)
    peak_rss_mb = rss.peak_kb / 1024

    if traced:
        from layers import per_layer

        tracer.uninstall()
        metrics = per_layer(tracer, os.path.join(work, "eventlog"), r, setup)
    else:
        metrics = end_to_end(r, setup_s, peak_rss_mb)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "terms": args.terms, "docs": args.docs, "host": host, "setup": setup,
        "op_walls_s": r.op_walls, "errors": r.errors,
        "calls_ms": r.calls, "call_p50_ms": call_medians(r),
    }
    print(json.dumps({"kgbench_report": report}))
    print(json.dumps({
        "correct": r.failed == 0 and r.attempted > 0 and bool(metrics),
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
