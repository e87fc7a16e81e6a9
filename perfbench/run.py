#!/usr/bin/env python3
"""Frontier benchmark: one run of one workload.

    python3 perfbench/run.py --workload crawl_mid --seed 1 --seconds 15 --trace 0

Run from the repository root. ``--trace 0`` times whole passes of the
workload and reports the end-to-end metrics; ``--trace 1`` runs the traced
variant and reports the per-layer metrics (see ``BENCHMARK.json``). Every
pass's output is checked against the sequential oracle. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; progress goes to standard error.

Everything the run writes — cached inputs, Spark scratch space, snapshot
stores, event logs — stays under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# Spark task threads. The crawl rounds are dominated by fixed per-job cost,
# so two threads ran passes as fast as four on a 4-core box, with a
# narrower spread when other tenants load the machine.
CPUS = 2
SETUP_REPS = 3
HEAP = "2g"
WORKLOADS = ("crawl_mid", "crawl_resume")


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants, summed
    over the driver, the JVM and the Python workers.

    For the driver and the JVM it is the kernel's own peak (``VmHWM``). A
    Python worker counts its proportional share of resident pages (Pss),
    the highest sampled: a worker forked from the daemon shares pages with
    it, which would count twice in RSS. Other descendants, such as a fork
    of the JVM that has not yet exec'd its command and still shares the
    JVM's memory, are not counted. The JVM's Pss is not read: for the 3 GB JVM
    one read of ``smaps_rollup`` took 36 ms and held the JVM's memory map
    while it ran; ``status`` costs microseconds."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak: dict[int, tuple[str, int]] = {}
        self._done = threading.Event()

    @staticmethod
    def _field(pid: int, name: str, key: str) -> int:
        with open(f"/proc/{pid}/{name}") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1]) * 1024
        return 0

    def _sample(self) -> None:
        parent, kind = {}, {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    comm, rest = f.read().rsplit(")", 1)
            except OSError:
                continue
            parent[int(name)] = int(rest.split()[1])
            kind[int(name)] = comm.split("(", 1)[1]
        me = os.getpid()
        for pid in parent:
            p = pid
            while p not in (me, 0, 1) and p in parent:
                p = parent[p]
            if p != me:
                continue
            k = "driver" if pid == me else kind[pid]
            try:
                if pid == me or (k == "java" and kind.get(parent[pid]) != "java"):
                    b = self._field(pid, "status", "VmHWM:")
                elif k.startswith("python"):
                    b = self._field(pid, "smaps_rollup", "Pss:")
                else:
                    continue
            except OSError:
                continue
            # an exiting process has no memory left to report
            self.peak[pid] = (k, max(b, self.peak.get(pid, (k, 0))[1]))

    def run(self) -> None:
        while not self._done.wait(0.5):
            self._sample()

    def stop(self) -> int:
        self._done.set()
        self.join()
        self._sample()
        return sum(b for _, b in self.peak.values())

    def by_kind(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for k, b in self.peak.values():
            out[k] = out.get(k, 0) + b
        return out


def isolate() -> None:
    """Point every scratch location at the work dir, before the JVM starts."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        # the Python workers import warchaeology_spark and the benchmark
        "PYTHONPATH": os.pathsep.join(paths),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(CPUS),
        # a fixed-size heap: with a growing one, when G1 chose to grow it
        # moved the peak RSS by up to 30% between runs of the same workload
        "SPARK_DRIVER_MEM": HEAP,
        "SPARK_GRAFT_JAVA_OPTS": f"-Xms{HEAP} -Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_OFFHEAP_SIZE": "2g",
    })
    sys.path[:0] = [ROOT, HERE]


def session_factory(event_dir: str | None = None, on_first=None):
    """A function that (re)starts the Spark session; ``on_first`` runs once,
    after the first start (the JVM launch overlaps input generation)."""
    pending = [on_first] if on_first else []

    def session():
        from warchaeology_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        if event_dir:
            from spans import event_log_conf

            conf.update(event_log_conf(event_dir))
        spark = get_spark("perfbench", master=f"local[{CPUS}]", shuffle_partitions=CPUS, extra_conf=conf)
        while pending:
            pending.pop()()
        return spark

    return session


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "warchaeology_spark", "frontier", "scheduler.py")):
        log(f"no warchaeology_spark package under {ROOT}; run from a full checkout")
        return 2
    isolate()
    log(f"{args.workload} seed {args.seed} trace {args.trace}, loadavg {loadavg()}")

    import crawl

    # inputs are generated in a child process, so that generating them
    # leaves no trace in this process's memory, while the JVM starts
    t0 = time.monotonic()
    cache = os.path.join(WORK, "inputs")
    d = crawl.input_dir(cache, args.workload, args.seed)
    prep = None
    if not crawl.prepared(d):
        cmd = "import sys, crawl; crawl.prepare(*sys.argv[1:3], int(sys.argv[3]))"
        prep = subprocess.Popen([sys.executable, "-c", cmd, cache, args.workload, str(args.seed)])
    rss = RssSampler()

    def inputs_ready():
        if prep is not None and prep.wait() != 0:
            raise RuntimeError(f"preparing the inputs in {d} failed")
        log(f"inputs ready after {time.monotonic() - t0:.1f} s: {d}")
        rss.start()

    # a SIGTERM unwinds through the finally below; the JVM exits by itself
    # once this process is gone, because its stdin is a pipe from here
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if args.trace:
            event_dir = os.path.join(WORK, "events", f"{args.workload}-s{args.seed}-{os.getpid()}")
            shutil.rmtree(event_dir, ignore_errors=True)
            out = crawl.run_traced(session_factory(event_dir, inputs_ready), args.workload, d, log)
            # the fold reads the event log, which is complete once Spark stops
            shutdown(out.pop("spark"))
            spans_path = os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json")
            os.makedirs(os.path.dirname(spans_path), exist_ok=True)
            metrics = crawl.layer_metrics(out, event_dir, spans_path)
            shutil.rmtree(event_dir, ignore_errors=True)
            log(f"spans written to {spans_path}")
        else:
            out = crawl.run_timed(
                session_factory(on_first=inputs_ready), args.workload, d, args.seconds, SETUP_REPS, log
            )
            shutdown(out.pop("spark"))
            out["peak_rss_mb"] = rss.stop() / 1e6
            log(f"peak rss by process {({k: round(v / 1e6) for k, v in rss.by_kind().items()})}")
            metrics = {k: {"value": out[k], "unit": u} for k, u in crawl.END_TO_END_UNITS.items()}
    finally:
        if prep is not None and prep.poll() is None:
            prep.kill()
            prep.wait()
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
