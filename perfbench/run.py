"""osmospark benchmark: one workload per run, end-to-end or traced.

    python3 perfbench/run.py --workload extract_bulk --seed 1 \
        --seconds 12 --trace 0

Runs from the root of a source checkout (it imports ``osmospark`` from
there) on ``local[<cores>]`` from a single driver process: a closed loop
with one client, where each workload call starts only after the
previous one returned. The workloads are in ``workloads.py``.

A run sets up three times and reports the median as ``setup_s``: corpus
synthesis and cache, where the first set-up also starts the Spark
session (and the JVM). A small warm-up of the workload's own call shape
then runs once, untimed, before the measurement window. It then calls the workload until ``--seconds`` have
passed, checks every call's output and prints one line per metric with
its unit and sample count. The last line of standard output is the JSON
result: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. A traced run first measures an untraced window after the
second set-up, then restarts the session with the Spark event log on for
the third set-up and measures again, so ``trace.overhead`` compares the
two in one process.

Exit status: 0 when every check passed, 1 when a check failed (the result
line still prints, with ``"correct": false``), 2 when the benchmark could
not run at all (no result line).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
# Spark settings sized for a 15 GB, 4-core host; partition counts are
# fixed so every run executes the same plan
DRIVER_MEMORY = "1g"
SHUFFLE_PARTITIONS = 16

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "pages_per_s": "1/s",
    "round_s_p50": "s", "jvm_peak_rss_mb": "MB",
}


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr,
          flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Session:
    """The benchmark's Spark session: all scratch files under ``workdir``,
    event log on only when ``event_log`` is given."""

    def __init__(self, workdir: str):
        self.workdir = workdir
        self.spark = None
        self.gateway = None

    def start(self, event_log: str | None = None):
        from pyspark.sql import SparkSession
        tmp = os.path.join(self.workdir, "tmp")
        b = (SparkSession.builder.master(f"local[{cores()}]")
             .appName("osmospark-perfbench")
             .config("spark.driver.memory", DRIVER_MEMORY)
             # a fixed-size heap keeps the JVM's peak RSS from depending
             # on when the collector chose to grow the heap
             .config("spark.driver.extraJavaOptions",
                     f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp}")
             .config("spark.local.dir", os.path.join(self.workdir, "local"))
             .config("spark.sql.warehouse.dir",
                     os.path.join(self.workdir, "warehouse"))
             .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
             .config("spark.sql.adaptive.enabled", "false")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.eventLog.enabled", str(bool(event_log)).lower()))
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            # Python has no zstandard module: write the log uncompressed
            b = (b.config("spark.eventLog.dir", event_log)
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.rolling.enabled", "false"))
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext
        self.gateway = SparkContext._gateway
        return self.spark

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM for the JVM")

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the gateway JVM, and wait for it."""
        self.stop()
        gw, self.gateway = self.gateway, None
        if gw is None:
            return
        from pyspark import SparkContext
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


class Window:
    """The calls of one measurement window."""

    def __init__(self):
        self.calls = []
        self.raised = 0

    @property
    def walls(self):
        return [c.wall_s for c in self.calls]

    def wall_s(self) -> float:
        return statistics.median(self.walls)

    def rounds(self) -> list[float]:
        """Per-round wall times from the ``on_round_end`` timestamps; a
        call without rounds is one round."""
        out = []
        for c in self.calls:
            if not c.round_ends_ms:
                out.append(c.wall_s)
                continue
            edges = [c.start_ms, *c.round_ends_ms]
            out += [(b - a) / 1000.0 for a, b in zip(edges, edges[1:])]
        return out


def measure(w, spark, seconds: float) -> Window:
    """Warm up with one untimed call of the workload's shape, then call
    the workload until ``seconds`` have passed."""
    t0 = time.perf_counter()
    w.warm(spark)
    log(f"warm-up: {time.perf_counter() - t0:.2f}s")
    win = Window()
    t_end = time.perf_counter() + seconds
    while True:
        try:
            win.calls.append(w.call(spark))
        except Exception:
            traceback.print_exc(file=sys.stderr)
            win.raised += 1
        if time.perf_counter() >= t_end:
            return win


def gate(w, spark, win: Window, pinned: str | None) -> list[str]:
    """Correctness: identical digests across calls, equal to the pinned
    digest when there is one, and the workload's outside checks."""
    if not win.calls:
        return [f"{w.name}: every call raised"]
    fails = []
    digests = sorted({c.digest for c in win.calls})
    if len(digests) > 1:
        fails.append(f"{w.name}: digest differs across calls: {digests}")
    if pinned is not None and digests[0] != pinned:
        fails.append(f"{w.name}: digest {digests[0]} != pinned {pinned}")
    return fails + w.check(spark, win.calls[-1])


def pinned_digest(size: str, workload: str, seed: int) -> str | None:
    with open(os.path.join(HERE, "pins.json")) as f:
        pins = json.load(f).get(size, {}).get(workload, {})
    return pins.get("any", pins.get(str(seed)))


def accounting(win: Window) -> tuple[int, int]:
    """(attempted, failed) page fetches; a call that raised counts every
    operation it would have made as failed."""
    per_call = max((c.fetched for c in win.calls), default=1) or 1
    attempted = sum(c.fetched for c in win.calls) + win.raised * per_call
    failed = sum(c.errors for c in win.calls) + win.raised * per_call
    return attempted, failed


def end_to_end(win: Window, setups: list[float], rss: float) -> dict:
    wall = win.wall_s()
    return {
        "setup_s": (statistics.median(setups), len(setups)),
        "wall_s": (wall, len(win.calls)),
        "pages_per_s": (statistics.median(
            c.fetched / c.wall_s for c in win.calls), len(win.calls)),
        "round_s_p50": (statistics.median(win.rounds()),
                        len(win.rounds())),
        "jvm_peak_rss_mb": (rss, 1),
    }


def per_layer(w, win: Window, base: Window, elog, kernel: dict) -> dict:
    """Per-call layer metrics (medians over the traced calls) plus the
    per-round breakdown, printed as it is built."""
    from layers import call_windows
    calls = win.calls
    n = len(calls)

    def med(fn):
        return (statistics.median(fn(c) for c in calls), n)

    def phase(key):
        return lambda c: sum(m["phases"].get(key, 0.0) for m in c.visit_meta)

    def flush(c):
        return c.wall_s - sum(sum(m["phases"].values())
                              for m in c.visit_meta)

    out = {k: (v, 1) for k, v in kernel.items()
           if k != "kernel.pages_per_s_1core"}
    untraced_pps = statistics.median(c.fetched / c.wall_s
                                     for c in base.calls)
    out["extract.parallel_eff"] = (
        untraced_pps / (cores() * kernel["kernel.pages_per_s_1core"]), 1)
    crawl = bool(calls[0].visit_meta)
    out["phase.dedup_admit_s"] = med(phase("dedup_admit"))
    out["phase.seen_update_s"] = med(phase("seen_update"))
    out["phase.extract_s"] = (med(phase("extract")) if crawl
                              else med(lambda c: c.wall_s))
    out["phase.commit_s"] = med(phase("commit"))
    out["phase.flush_s"] = med(flush) if crawl else (0.0, n)
    out["round.admitted"] = med(
        lambda c: sum(m["admitted"] for m in c.visit_meta) if crawl
        else c.fetched)
    out["fetch.fetched"] = med(lambda c: c.fetched)
    out["fetch.parsed"] = med(lambda c: c.parsed)
    out["fetch.errors"] = med(lambda c: c.errors)
    spark_calls = [elog.window(c.start_ms, c.end_ms) for c in calls]
    for k in spark_calls[0]:
        out[k] = (statistics.median(s[k] for s in spark_calls), n)
    out["state.files"] = med(lambda c: c.state_files)
    out["state.mb"] = med(lambda c: c.state_bytes / (1 << 20))
    attempted, failed = accounting(win)
    out["failed_share"] = (failed / max(1, attempted), attempted)
    out["trace.overhead"] = (win.wall_s() / base.wall_s(), n)

    for i, c in enumerate(calls):
        meta = {f"r{m['round']}": m for m in c.visit_meta}
        for label, a, b in call_windows(c):
            m = meta.get(label, {})
            row = {"call": i, "window": label, "wall_s": (b - a) / 1000.0,
                   "admitted": m.get("admitted"),
                   **{f"phase.{k}_s": v
                      for k, v in m.get("phases", {}).items()},
                   **elog.window(a, b)}
            if label == "flush":
                row["phase.flush_s"] = flush(c)
            print(f"# round {json.dumps(row)}")
    return out


def report(title: str, metrics: dict, units: dict) -> None:
    for name, (value, count) in metrics.items():
        print(f"# {title} {name} = {value:.6g} {units.get(name, '')} "
              f"(n={count})")


def make_workdir(name: str) -> str:
    """A scratch directory inside the checkout for everything Spark,
    Python and the JVM write; Python workers import from the checkout."""
    workdir = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep)
    return workdir


def run(args) -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    from layers import EventLog, find_event_log, kernel_layers
    from workloads import DIRECTIONS, FOLLOW, SHAPES, SPEC, WORKLOADS

    workdir = make_workdir(args.workload)
    shape = SHAPES[args.size][args.workload]
    w = WORKLOADS[args.workload](shape, workdir)
    print(f"# workload {w.name}: {DIRECTIONS[w.name]}")
    print(f"# shape {shape}, local[{cores()}], seed {args.seed}")
    sess = Session(workdir)
    elog_dir = os.path.join(workdir, "eventlog")
    try:
        setups, base, spark = [], None, None
        for k in range(SETUPS):
            t0 = time.perf_counter()
            traced = bool(args.trace) and k == SETUPS - 1
            if spark is None or traced:
                sess.stop()
                spark = sess.start(elog_dir if traced else None)
            else:
                w.pages.unpersist(blocking=True)
            w.setup(spark)
            setups.append(time.perf_counter() - t0)
            log(f"set-up {k + 1}: {setups[-1]:.2f}s")
            if k == 0:
                urls = [r["url"] for r in
                        w.pages.select("url").collect()]
                w.choose(urls, args.seed)
            if args.trace and k == SETUPS - 2:
                base = measure(w, spark, args.seconds)
        win = measure(w, spark, args.seconds)
        print(f"# digest {win.calls[0].digest if win.calls else None}")
        log(f"measured {len(win.calls)} calls: "
            f"{', '.join(f'{t:.2f}s' for t in win.walls)}")
        fails = gate(w, spark, win, pinned_digest(args.size, w.name,
                                                  args.seed))
        if base is not None:
            fails += gate(w, spark, base, win.calls[0].digest
                          if win.calls else None)
        log("checked")
        attempted, failed = accounting(win)
        if not win.calls:
            metrics = {}
        elif args.trace:
            from pyspark.sql import functions as F
            rows = (w.pages.filter(F.col("url").isin(w.sample_urls))
                    .select("url", "html").collect())
            sess.stop()
            kernel = kernel_layers(rows, SPEC, None if w.name ==
                                   "extract_bulk" else FOLLOW)
            elog = EventLog(find_event_log(elog_dir))
            metrics = per_layer(w, win, base, elog, kernel)
            units = {m["name"]: m["unit"] for m in bench_json()["per_layer"]}
        else:
            metrics = end_to_end(win, setups, sess.jvm_peak_rss_mb())
            units = END_TO_END
            print(f"# failed_share = {failed / max(1, attempted):.6g} ratio "
                  f"(n={attempted})")
            if w.name == "crawl_durable":
                print(f"# state_mb = "
                      f"{win.calls[-1].state_bytes / (1 << 20):.6g} MB "
                      f"(n=1)")
        if metrics:
            want = {m["name"] for m in bench_json()[
                "per_layer" if args.trace else "end_to_end"]}
            if set(metrics) != want:
                raise RuntimeError(f"metrics {sorted(set(metrics) ^ want)} "
                                   "disagree with BENCHMARK.json")
            report(w.name, metrics, units)
        for f in fails:
            print(f"# CHECK FAILED: {f}")
        print(f"# checks: {'passed' if not fails else 'FAILED'} "
              f"({len(win.calls)} calls, {win.raised} raised)")
        correct = not fails
        print(json.dumps({
            "correct": correct, "attempted": max(1, attempted),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, (v, _) in metrics.items()}}))
        return 0 if correct else 1
    finally:
        sess.close()
        shutil.rmtree(workdir, ignore_errors=True)
        log("stopped")


def bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["extract_bulk", "crawl_durable"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "osmospark")):
        print(f"no osmospark package under {ROOT}: run from a source "
              "checkout", file=sys.stderr)
        return 2
    try:
        return run(args)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
