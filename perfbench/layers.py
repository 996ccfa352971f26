"""Per-layer measurements for the traced run.

Two sources, both read from outside the program:

- ``kernel_layers`` times the extraction kernel's layers in-process on a
  page sample, through their public entry points: ``html.parse_html``,
  ``compile_selector(...).find``, ``urlnorm.link_resolver``,
  ``interpreter.Runner`` and ``extract.make_crawl_udf`` on a pandas batch.
- ``EventLog`` reads the Spark event log the benchmark's own session
  wrote (uncompressed JSON lines) and splits jobs, tasks, shuffle, spill
  and broadcast bytes into time windows: one per crawl round, taken from
  the ``on_round_end`` timestamps, plus the post-loop flush.
"""

from __future__ import annotations

import json
import os
import statistics
import time

MB = 1 << 20


# ---------------------------------------------------------------------------
# in-process kernel layers
# ---------------------------------------------------------------------------

def _median_pass(fn, reps: int) -> float:
    """Median seconds of ``reps`` passes of ``fn``."""
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def kernel_layers(rows, spec: dict, follow: str | None,
                  reps: int = 5) -> dict[str, float]:
    """Per-page cost of parse, select/set, follow and the whole kernel on
    the sampled ``rows`` (dicts with ``url`` and ``html``), each the
    median of ``reps`` passes over the sample."""
    from osmospark.extract import make_crawl_udf
    from osmospark.html import Attribute, Element, compile_selector, \
        parse_html
    from osmospark.interpreter import Runner
    from osmospark.spec import Chain
    from osmospark.urlnorm import link_resolver
    from workloads import FOLLOW, kernel_batch

    pages = [(r["url"], bytes(r["html"]).decode("utf-8")) for r in rows]
    n = len(pages)
    docs = [parse_html(h, base_url=u) for u, h in pages]
    sel = compile_selector(FOLLOW)
    found = [sel.find(d, relative=True) for d in docs]

    def hrefs(nodes):
        for node in nodes:
            if isinstance(node, Attribute):
                yield node.value()
            elif isinstance(node, Element):
                a = node.attr("href")
                yield a.value() if a is not None else node.text()

    links = [[h for h in hrefs(ns) if h] for ns in found]
    n_links = sum(len(x) for x in links)

    def parse():
        for u, h in pages:
            parse_html(h, base_url=u)

    def select():
        for d in docs:
            sel.find(d, relative=True)

    def resolve():
        for (u, _), ls in zip(pages, links):
            r = link_resolver(u)
            for h in ls:
                r(h)

    chain = Chain().set(spec)

    def set_():
        for d in docs:
            Runner(page_scope=True).run(chain, context=d)

    udf = make_crawl_udf(spec, follow, hash_conts=False)
    batch = kernel_batch(rows)
    out_rows = []

    def kernel():
        out_rows[:] = [sum(len(f) for f in udf(iter([batch])))]

    t_parse = _median_pass(parse, reps)
    t_select = _median_pass(select, reps)
    t_resolve = _median_pass(resolve, reps)
    t_set = _median_pass(set_, reps)
    t_kernel = _median_pass(kernel, reps)
    follow_s = (t_select + t_resolve) if follow else 0.0
    ms = 1000.0 / n
    return {
        "parse.ms_per_page": t_parse * ms,
        "parse.bytes_per_page": sum(len(h.encode()) for _, h in pages) / n,
        "select.follow_ms_per_page": t_select * ms,
        "set.ms_per_page": t_set * ms,
        "follow.us_per_link": t_resolve * 1e6 / max(1, n_links),
        "follow.links_per_page": n_links / n,
        "kernel.ms_per_page": t_kernel * ms,
        "kernel.emit_ms_per_page":
            (t_kernel - t_parse - t_set - follow_s) * ms,
        "kernel.rows_out_per_page": out_rows[0] / n,
        "kernel.pages_per_s_1core": n / t_kernel,
    }


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

class EventLog:
    """The parts of one uncompressed Spark event log the benchmark uses."""

    def __init__(self, path: str):
        self.jobs: list[float] = []          # submission times (ms)
        # (launch_ms, finish_ms, stage, shuffle_w, shuffle_r, spill,
        #  task accumulables {id: update})
        self.tasks: list[tuple] = []
        self.udf_stages: set[int] = set()
        self.udf_rows_accs: set[int] = set()   # MapInPandas output rows
        self.bcast_accs: set[int] = set()      # BroadcastExchange data size
        exec_time: dict[int, float] = {}
        driver_updates: list[tuple[int, int, int]] = []
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    self.jobs.append(ev["Submission Time"])
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    if any("MapInPandas" in (r.get("Scope") or "")
                           for r in info.get("RDD Info", [])):
                        self.udf_stages.add(info["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    self._task(ev)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    exec_time[ev["executionId"]] = ev["time"]
                    self._plan(ev["sparkPlanInfo"])
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc, val in ev["accumUpdates"]:
                        driver_updates.append(
                            (ev["executionId"], acc, int(val)))
        self.broadcasts = [(exec_time.get(e, 0.0), v)
                           for e, acc, v in driver_updates
                           if acc in self.bcast_accs]

    def _plan(self, node: dict) -> None:
        name = node.get("nodeName", "")
        for m in node.get("metrics", []):
            if name == "MapInPandas" and m["name"] == "number of output rows":
                self.udf_rows_accs.add(m["accumulatorId"])
            if name == "BroadcastExchange" and m["name"] == "data size":
                self.bcast_accs.add(m["accumulatorId"])
        for child in node.get("children", []):
            self._plan(child)

    def _task(self, ev: dict) -> None:
        info = ev["Task Info"]
        tm = ev.get("Task Metrics") or {}
        sw = (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        sr = tm.get("Shuffle Read Metrics") or {}
        sread = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        spill = tm.get("Disk Bytes Spilled", 0)
        accs = {a["ID"]: a.get("Update") for a in info.get("Accumulables", [])
                if "Update" in a}
        self.tasks.append((info["Launch Time"], info["Finish Time"],
                           ev["Stage ID"], sw, sread, spill, accs))

    def window(self, start_ms: float, end_ms: float) -> dict[str, float]:
        """Spark layer metrics for jobs and tasks launched in
        ``[start_ms, end_ms)``."""
        inside = [t for t in self.tasks if start_ms <= t[0] < end_ms]
        udf = [t for t in inside if t[2] in self.udf_stages]
        useful = sum(
            1 for t in udf
            if any(int(t[6].get(a) or 0) > 0 for a in self.udf_rows_accs))
        udf_ms = [t[1] - t[0] for t in udf]
        return {
            "spark.jobs": sum(1 for j in self.jobs if start_ms <= j < end_ms),
            "spark.tasks": len(inside),
            "spark.udf_tasks": len(udf),
            "spark.udf_tasks_useful_ratio":
                useful / len(udf) if udf else 0.0,
            "spark.udf_task_ms_p50":
                statistics.median(udf_ms) if udf_ms else 0.0,
            "spark.udf_task_ms_max": max(udf_ms) if udf_ms else 0.0,
            "spark.shuffle_write_mb": sum(t[3] for t in inside) / MB,
            "spark.shuffle_read_mb": sum(t[4] for t in inside) / MB,
            "spark.spill_mb": sum(t[5] for t in inside) / MB,
            "spark.broadcast_mb": sum(
                v for ts, v in self.broadcasts
                if start_ms <= ts < end_ms) / MB,
        }


def find_event_log(log_dir: str) -> str:
    """The single finished event log in ``log_dir``."""
    names = [n for n in os.listdir(log_dir)
             if not n.startswith(".") and not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {names}")
    return os.path.join(log_dir, names[0])


def call_windows(res) -> list[tuple[str, float, float]]:
    """(label, start_ms, end_ms) per crawl round plus the post-loop flush;
    a call without rounds is a single window."""
    edges = [res.start_ms, *res.round_ends_ms]
    out = [(f"r{i}", a, b) for i, (a, b) in enumerate(zip(edges, edges[1:]))]
    out.append(("flush" if res.round_ends_ms else "r0", edges[-1],
                res.end_ms))
    return out
