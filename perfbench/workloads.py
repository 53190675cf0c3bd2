"""The workloads: one timed operation each, plus its output check.

A workload is opened once per run (inputs loaded and pinned in memory),
then ``run()`` is called for the warm-up and for every measured
operation. ``run()`` returns an ``Outcome`` whose timings cover exactly
what a user of the program waits for; digests and checks are computed
afterwards, outside the timed region.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import inputs


def materialize(df: DataFrame) -> DataFrame:
    """Compute every row once and keep it, so checks re-read the
    result instead of recomputing it."""
    return df.localCheckpoint(eager=True)


def digest(df: DataFrame) -> str:
    """Order-insensitive md5 of a table: the ``contract._pin_hash``
    scheme (md5 per row over the sorted columns cast to string, NULL as
    \\x00, then md5 over the sorted row hashes)."""
    cols = sorted(df.columns)
    row_h = F.md5(F.concat_ws(
        "\x1f",
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols],
    ))
    return (
        df.select(row_h.alias("h"))
        .agg(F.md5(F.concat_ws("\x1e", F.array_sort(F.collect_list("h"))))
             .alias("H"))
        .first()["H"]
    )


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


@contextlib.contextmanager
def _no_span(name):
    yield {"id": None}


@dataclass
class Outcome:
    wall_s: float
    first_s: float | None   # call -> first result visible to the caller
    items: int              # URLs attempted, or documents
    result: object = None
    extra: dict = field(default_factory=dict)


class _ManifestWatch:
    """Polls a checkpoint manifest from outside the program and records
    when it first appears (superstep 0's commit)."""

    def __init__(self, path: str, t0: float):
        self.path, self.t0, self.seen_at = path, t0, None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()

    def _poll(self) -> None:
        while not self._stop.is_set():
            if os.path.exists(self.path):
                self.seen_at = time.perf_counter() - self.t0
                return
            time.sleep(0.002)

    def stop(self) -> float | None:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.seen_at


class CrawlWorkload:
    """crawl_durable: a checkpointed ``run_crawl`` (table-backed Bloom
    and cuckoo state, cuckoo engaged from superstep 0) with the datagen
    robots rules and simulated 429 events, under a 48-URL host budget."""

    def __init__(self, spark: SparkSession, paths: dict, work_dir: str,
                 partitions: int):
        self.spark, self.work_dir = spark, work_dir
        self.shape = inputs.CRAWL_DURABLE
        self.pages = (
            spark.read.parquet(paths["pages"])
            .repartition(partitions, "url").localCheckpoint(eager=True)
        )
        self.fetch_events = spark.read.parquet(paths["fetch_events"]) \
            .localCheckpoint(eager=True)
        self.robots = spark.read.parquet(paths["robots"]).localCheckpoint(eager=True)
        self.ckpt_dir = os.path.join(work_dir, "checkpoint")

    def config(self, **overrides):
        from ptt_spider_go_spark.config import CrawlConfig

        s = {**self.shape, **overrides}
        return CrawlConfig(
            board=s["boards"][0], pages=s["pages_per_board"],
            push_rate=s["push_rate"], workers=s["workers"],
            host_salt=s["host_salt"], max_supersteps=s["max_supersteps"],
            cuckoo_min_seen=0,
        )

    #: No warm-up: a warm-up crawl costs as much as the timed crawl
    #: (crawl fixed cost is ~20 s at any input size), and one run holds
    #: one crawl. The timed crawl is the session's first, as for a batch
    #: job; see README.md "Warm-up".
    warm_up = None

    def run(self, cfg=None, ckpt: str | None = "", tracer=None) -> Outcome:
        """One crawl, timed from the ``run_crawl`` call until articles,
        download_tasks, markdown_docs and metrics are all forced.
        ``ckpt=None`` runs the same crawl in memory, the reference the
        checkpointed crawl must equal."""
        from ptt_spider_go_spark.plans import crawl

        cfg = cfg or self.config()
        ckpt = self.ckpt_dir if ckpt == "" else ckpt
        if ckpt:
            shutil.rmtree(ckpt, ignore_errors=True)
        span = tracer.span if tracer else _no_span
        t0 = time.perf_counter()
        watch = _ManifestWatch(os.path.join(ckpt, "_manifest.json"), t0) if ckpt else None
        try:
            with span("plans.crawl") as crawl_span:
                res = crawl.run_crawl(
                    self.spark, self.pages, cfg,
                    boards=list(self.shape["boards"]),
                    fetch_events=self.fetch_events, robots=self.robots,
                    checkpoint_dir=ckpt,
                )
            with span("assembly.force"):
                res.articles = materialize(res.articles)
                res.download_tasks = materialize(res.download_tasks)
                res.markdown_docs = materialize(res.markdown_docs)
                res.metrics = materialize(res.metrics)
            wall = time.perf_counter() - t0
        finally:
            first_commit = watch.stop() if watch else None
        if tracer:
            tracer.add_span("parse.fetch_parse",
                            res.timings.get("phase.fetch_parse", 0.0),
                            parent=crawl_span["id"])
        log = res.fetch_log.groupBy("outcome").count().collect()
        extra = {"supersteps": res.supersteps, "loop_s": res.wall_secs,
                 "durable": bool(ckpt),
                 "fetched": sum(r["count"] for r in log if r["outcome"] == "fetched")}
        if ckpt:
            extra["ckpt_bytes"] = dir_bytes(ckpt)
        # items: every URL the crawl attempted (fetched, 404, 429, failed).
        # The host budget fixes how many are admitted per superstep, so
        # this count hardly moves with the seed; the fetched share does.
        return Outcome(wall, first_commit, sum(r["count"] for r in log), res, extra)

    def reference(self) -> Outcome:
        return self.run(ckpt=None)

    def digests(self, out: Outcome) -> dict:
        res = out.result
        q = res.quarantine.withColumn("context", F.to_json(F.col("context")))
        return {
            "articles": digest(res.articles),
            "markdown": digest(res.markdown_docs),
            "metrics": digest(res.metrics),
            "quarantine": digest(q),
        }

    def check(self, out: Outcome) -> list[str]:
        """Checks that hold for every seed; digests are compared by the
        caller (pins, earlier operations, the in-memory reference)."""
        res, problems = out.result, []
        if out.extra["fetched"] <= 0:
            problems.append("no URL was fetched")
        if out.extra["durable"] and out.first_s is None:
            problems.append("superstep 0 never committed a manifest")
        n = res.contents.count()
        bad = res.contents.filter(
            ~F.coalesce(F.col("text_match"), F.lit(False))).count()
        if n == 0 or bad:
            problems.append(f"text_match false on {bad} of {n} articles")
        return problems


#: kernel -> the span (layer) it is timed under in the traced run
TEXT_LAYERS = {
    "winnow_fingerprints": "winnow.fingerprints",
    "winnow_pairs": "winnow.pairs",
    "source_templates": "winnow.templates",
    "cdc_chunks": "cdc.chunks",
    "cdc_dedup_stats": "cdc.stats",
    "pair_similarity_panel": "pair_panel",
}
TEXT_KERNELS = tuple(TEXT_LAYERS)
#: the pass's first result: the winnow stage (fingerprints, local-copy
#: pairs, source templates) is done; one kernel alone is ~1 s, too short
#: to time steadily on a shared host
FIRST_RESULT_AFTER = "source_templates"


def text_kernels() -> dict:
    from ptt_spider_go_spark.pipeline import cdc, dedup_text, winnow

    return {
        "winnow_fingerprints": winnow.winnow_fingerprints,
        "winnow_pairs": winnow.winnow_pairs,
        "source_templates": winnow.source_templates,
        "cdc_chunks": cdc.cdc_chunks,
        "cdc_dedup_stats": cdc.cdc_dedup_stats,
        "pair_similarity_panel": dedup_text.pair_similarity_panel,
    }


class TextDedupWorkload:
    """One pass of the six curation kernels over seeded documents."""

    def __init__(self, spark: SparkSession, paths: dict, partitions: int):
        self.spark = spark
        self.docs = (
            spark.read.parquet(paths["documents"])
            .repartition(partitions, "doc_id").localCheckpoint(eager=True)
        )
        self.n_docs = self.docs.count()
        self.exact_pairs = spark.read.parquet(paths["exact_pairs"]) \
            .localCheckpoint(eager=True)

    def warm_up(self) -> Outcome:
        """The same pass over the first 30 documents: same plans, so
        codegen, JIT and the Python workers are warm before the timed
        pass."""
        return self.run(docs=self.docs.filter(F.col("doc_id") < 30))

    def run(self, tracer=None, docs: DataFrame | None = None) -> Outcome:
        """One pass, timed from the first kernel call until every
        kernel's output is forced."""
        docs = self.docs if docs is None else docs
        kernels = text_kernels()
        span = tracer.span if tracer else _no_span
        outs, first = {}, None
        t0 = time.perf_counter()
        for name in TEXT_KERNELS:
            with span(TEXT_LAYERS[name]):
                df = materialize(kernels[name](docs))
            outs[name] = df
            if name == FIRST_RESULT_AFTER:
                first = time.perf_counter() - t0
        wall = time.perf_counter() - t0
        return Outcome(wall, first, self.n_docs, outs, {})

    def digests(self, out: Outcome) -> dict:
        return {name: digest(df) for name, df in out.result.items()}

    def check(self, out: Outcome) -> list[str]:
        """Every planted exact duplicate pair reaches the pair panel with
        Jaccard 1 (identical texts share every MinHash band)."""
        panel = out.result["pair_similarity_panel"]
        exact = panel.filter(F.col("jaccard_ppm") == 1_000_000) \
            .select("doc_a", "doc_b")
        missed = self.exact_pairs.join(exact, ["doc_a", "doc_b"], "left_anti").count()
        return [f"{missed} planted exact duplicate pairs missing from the "
                "pair panel"] if missed else []
