"""Spans for the traced run, recorded from the benchmark's side only.

``traced_crawl(tracer)`` swaps the public functions that
``plans.crawl`` calls for wrappers, and restores them on exit. Each
wrapper records a span (name, start, end, parent, run id) and forces
the DataFrame it returns inside that span, so its time lands on the
layer that built it. Row counts are taken in ``trace.count`` child
spans, so they never inflate a layer's self time. Spans stay in memory.

``run_crawl`` runs the parse kernel inline, outside any wrapper; the
program's own ``phase.fetch_parse`` timing is added as a span of the
parse layer, and ``parse_replay`` measures the same kernel input again
through its parts.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from workloads import dir_bytes


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict = defaultdict(float)
        self.captured: dict = defaultdict(list)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add_span(self, name: str, dur: float, parent: int) -> None:
        """A span whose duration was measured by the program itself."""
        self.spans.append({"id": len(self.spans), "name": name,
                           "run": self.run_id, "parent": parent,
                           "start": None, "end": None, "dur": dur})

    def count(self, key: str, df: DataFrame | None) -> int:
        n = 0
        if df is not None:
            with self.span("trace.count"):
                n = df.count()
        self.counts[key] += n
        return n

    def force(self, df: DataFrame | None) -> DataFrame | None:
        return None if df is None else df.localCheckpoint(eager=True)

    @staticmethod
    def dur(s: dict) -> float:
        return s["dur"] if "dur" in s else s["end"] - s["start"]

    def self_times(self) -> dict:
        """name -> summed (duration minus direct children's durations)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += self.dur(s)
        out: dict = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += self.dur(s) - child[s["id"]]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


@contextlib.contextmanager
def _patched(patches: list):
    saved = [(obj, name, getattr(obj, name)) for obj, name, _ in patches]
    try:
        for obj, name, wrapper in patches:
            setattr(obj, name, wrapper)
        yield
    finally:
        for obj, name, orig in saved:
            setattr(obj, name, orig)


def traced_crawl(tr: Tracer):
    """Context manager: wrappers on every layer ``run_crawl`` calls."""
    from ptt_spider_go_spark.operators import dedup as dd
    from ptt_spider_go_spark.plans import checkpoint as ck
    from ptt_spider_go_spark.plans import crawl as cr

    def wrap_df(layer, orig):
        def w(*a, **k):
            with tr.span(layer):
                return tr.force(orig(*a, **k))
        return w

    o = {n: getattr(cr, n) for n in (
        "probe_max_pages", "board_frontier", "apply_robots", "budget_gate",
        "apply_fetch_status", "dedup_against_seen", "with_unique_dir",
        "markdown_docs", "progress_events", "quarantine_from_fetch_log")}

    def probe_max_pages(*a, **k):
        with tr.span("seeds.probe"):
            return o["probe_max_pages"](*a, **k)

    def board_frontier(*a, **k):
        with tr.span("seeds.frontier"):
            df = tr.force(o["board_frontier"](*a, **k))
            tr.count("seeds.frontier_rows", df)
            return df

    def apply_robots(frontier, robots):
        with tr.span("politeness.robots"):
            tr.count("politeness.rows_in", frontier)
            return tr.force(o["apply_robots"](frontier, robots))

    def budget_gate(*a, **k):
        with tr.span("politeness.budget"):
            admitted, deferred = o["budget_gate"](*a, **k)
            admitted, deferred = tr.force(admitted), tr.force(deferred)
            tr.count("politeness.admitted_rows", admitted)
            return admitted, deferred

    def apply_fetch_status(*a, **k):
        with tr.span("retrysim.ledger"):
            ok, retry, failed = (tr.force(d) for d in
                                 o["apply_fetch_status"](*a, **k))
            tr.count("retrysim.retry_rows", retry)
            tr.count("retrysim.failed_rows", failed)
            tr.captured["ok"].append(ok)
            return ok, retry, failed

    def dedup_against_seen(candidates, seen, blooms, cuckoos=None, **k):
        with tr.span("dedup.probe"):
            cand = tr.force(candidates)
            n = tr.count("dedup.candidates", cand)
            if seen is not None:
                tr.count("dedup.repeats",
                         cand.join(seen.select("url"), "url", "left_semi"))
            c: dict = {}
            fresh = tr.force(o["dedup_against_seen"](
                cand, seen, blooms, cuckoos, counters=c, **k))
            bloom = c.get("anti_join_input_after_bloom", n)
            tr.counts["dedup.after_bloom_rows"] += bloom
            tr.counts["dedup.after_cuckoo_rows"] += c.get(
                "anti_join_input_after_cuckoo", bloom)
            tr.count("dedup.fresh_rows", fresh)
            return fresh

    def add_df(layer, orig):
        def w(self, *a, **k):
            with tr.span(layer):
                return orig(self, *a, **k)
        return w

    def write_step(self, step, tables, extra=None):
        with tr.span("checkpoint.write"):
            out = o_write(self, step, tables, extra)
        tr.counts["checkpoint.bytes_written"] += dir_bytes(
            os.path.join(self.root, f"step={step}"))
        return out

    o_write, o_read, o_expire = (
        ck.CheckpointManager.write_step, ck.CheckpointManager.read,
        ck.CheckpointManager.expire_snapshots)

    def read(self, step, name):
        with tr.span("checkpoint.read"):
            return tr.force(o_read(self, step, name))

    def expire(self, *a, **k):
        with tr.span("checkpoint.expire"):
            return o_expire(self, *a, **k)

    return _patched([
        (cr, "probe_max_pages", probe_max_pages),
        (cr, "board_frontier", board_frontier),
        (cr, "apply_robots", apply_robots),
        (cr, "budget_gate", budget_gate),
        (cr, "apply_fetch_status", apply_fetch_status),
        (cr, "dedup_against_seen", dedup_against_seen),
        (cr, "with_unique_dir", wrap_df("assembly.unique_dir", o["with_unique_dir"])),
        (cr, "markdown_docs", wrap_df("assembly.markdown", o["markdown_docs"])),
        (cr, "progress_events", wrap_df("assembly.progress", o["progress_events"])),
        (cr, "quarantine_from_fetch_log",
         wrap_df("assembly.quarantine", o["quarantine_from_fetch_log"])),
        (dd.BloomShardSet, "add_df", add_df("dedup.bloom_add", dd.BloomShardSet.add_df)),
        (dd.CuckooShardSet, "add_df", add_df("dedup.cuckoo_add", dd.CuckooShardSet.add_df)),
        (ck.CheckpointManager, "write_step", write_step),
        (ck.CheckpointManager, "read", read),
        (ck.CheckpointManager, "expire_snapshots", expire),
    ])


def parse_replay(spark, pages: DataFrame, oks: list, push_rate: int) -> dict:
    """Re-run the traced crawl's parse input through its parts: the
    Arrow round trip alone (identity ``mapInPandas``), the kernel in
    ``mapInPandas`` as ``run_crawl`` runs it, and the kernel called in
    this process on the same batches."""
    import functools

    from ptt_spider_go_spark.functions.udfs import (
        PARSED_ALL_SCHEMA,
        make_parse_page_kernel,
    )
    from ptt_spider_go_spark.session import ARROW_MAX_RECORDS

    ok = functools.reduce(DataFrame.unionByName, oks).drop("status")
    kernel_in = (
        pages.select("url", "warc_ts", "html", "text")
        .join(F.broadcast(ok.drop("warc_ts")), on="url", how="inner")
        .select("url", "kind", "board", "page_no", "pos", "title", "author",
                "push_rate", "attempt", "backoff_ms", "warc_ts", "html", "text")
        .localCheckpoint(eager=True)
    )
    stats = kernel_in.agg(F.count("*").alias("n"),
                          F.sum(F.length("html")).alias("b")).first()

    def identity(batches):
        yield from batches

    def timed(df):
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    arrow_s = timed(kernel_in.mapInPandas(identity, kernel_in.schema))
    replay_s = timed(kernel_in.mapInPandas(
        make_parse_page_kernel(True, push_rate), PARSED_ALL_SCHEMA))
    pdf = kernel_in.toPandas()
    batches = [pdf.iloc[i:i + ARROW_MAX_RECORDS]
               for i in range(0, len(pdf), ARROW_MAX_RECORDS)]
    kernel = make_parse_page_kernel(True, push_rate)
    t = time.perf_counter()
    rows_out = sum(len(b) for b in kernel(iter(batches)))
    py_s = time.perf_counter() - t
    return {"parse.pages_in": stats["n"], "parse.html_bytes_in": stats["b"] or 0,
            "parse.rows_out": rows_out, "parse.arrow_roundtrip_s": arrow_s,
            "parse.replay_s": replay_s, "parse.kernel_py_s": py_s}


def read_event_log(log_dir: str, t_from_ms: int, t_to_ms: int) -> dict:
    """Sum task metrics of tasks that ran inside [t_from_ms, t_to_ms]
    from the Spark event log files under ``log_dir``."""
    cpu_ns = gc_ms = shuffle_w = spill = tasks = 0
    logs = [os.path.join(r, f) for r, _, fs in os.walk(log_dir) for f in fs
            if not f.startswith(".") and not f.startswith("appstatus")]
    for path in logs:
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                if not (t_from_ms <= info.get("Launch Time", 0)
                        and info.get("Finish Time", 0) <= t_to_ms):
                    continue
                tasks += 1
                cpu_ns += m.get("Executor CPU Time", 0)
                gc_ms += m.get("JVM GC Time", 0)
                shuffle_w += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                spill += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
    return {"spark.task_cpu_s": cpu_ns / 1e9, "spark.gc_s": gc_ms / 1e3,
            "spark.shuffle_write_bytes": shuffle_w, "spark.spill_bytes": spill,
            "spark.tasks": tasks}
