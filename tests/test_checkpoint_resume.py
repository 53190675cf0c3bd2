"""T5: snapshot checkpointing + exact kill-and-resume.

The invariant (BASELINE.json:14): resuming from the last committed
superstep snapshot produces byte-identical final tables to an
uninterrupted run.
"""

import pytest
from pyspark.sql import functions as F

from ptt_spider_go_spark.config import CrawlConfig
from ptt_spider_go_spark.datagen import pages_pandas
from ptt_spider_go_spark.plans.crawl import run_crawl

BOARD = "Beauty"


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(
        pages_pandas(boards=(BOARD,), pages_per_board=3, slots_per_page=6)
    ).cache()


def _cfg(**kw):
    base = dict(board=BOARD, pages=3, push_rate=0, host_salt=4,
                max_supersteps=6)
    base.update(kw)
    return CrawlConfig(**base)


def _snapshot(res):
    return {
        "articles": sorted(map(tuple, res.articles.collect())),
        "tasks": sorted(map(tuple, res.download_tasks.collect())),
        "markdown": sorted(
            (r["article_url"], r["content"]) for r in res.markdown_docs.collect()
        ),
        "seen": sorted(r["url"] for r in res.seen.collect()),
    }


def test_kill_and_resume_identical(spark, pages, tmp_path):
    full_dir = tmp_path / "full"
    part_dir = tmp_path / "part"

    # Uninterrupted run with checkpointing.
    full = run_crawl(spark, pages, _cfg(), checkpoint_dir=str(full_dir),
                     verify_text=False)
    assert full.supersteps >= 2

    # "Killed" run: stop after the first superstep commits...
    run_crawl(spark, pages, _cfg(max_supersteps=1),
              checkpoint_dir=str(part_dir), verify_text=False)
    # ...then resume from the snapshot.
    resumed = run_crawl(spark, pages, _cfg(), checkpoint_dir=str(part_dir),
                        resume=True, verify_text=False)

    assert _snapshot(full) == _snapshot(resumed)


def test_kill_and_resume_keeps_diverted_rows(spark, pages, tmp_path):
    """Rows a frontier gate diverts before the kill survive the resume:
    a file-mode crawl whose seed file holds a trap URL, stopped after
    superstep 0 and resumed, reports the same `diverted` rows as an
    uninterrupted checkpointed run."""
    arts = sorted(r["url"] for r in pages.filter(F.col("url").contains("/M."))
                  .select("url").collect())[:3]
    trap = "https://www.ptt.cc/bbs" + "/cal/2024" * 4 + "/M.1.A.html"
    seeds = tmp_path / "urls.txt"
    seeds.write_text("\n".join(arts + [trap]))
    kw = dict(file_urls_path=str(seeds), trap_filter=True, verify_text=False)

    full = run_crawl(spark, pages, _cfg(), checkpoint_dir=str(tmp_path / "full"),
                     **kw)
    part_dir = str(tmp_path / "part")
    run_crawl(spark, pages, _cfg(max_supersteps=1), checkpoint_dir=part_dir,
              **kw)
    resumed = run_crawl(spark, pages, _cfg(), checkpoint_dir=part_dir,
                        resume=True, **kw)

    def diverted(res):
        return sorted(map(tuple, res.diverted.collect()))

    assert diverted(full) == [(trap, "trap", "repeated_segments", 0)]
    assert diverted(resumed) == diverted(full)
    assert _snapshot(resumed) == _snapshot(full)


def test_resume_noop_when_finished(spark, pages, tmp_path):
    d = tmp_path / "done"
    first = run_crawl(spark, pages, _cfg(), checkpoint_dir=str(d),
                      verify_text=False)
    again = run_crawl(spark, pages, _cfg(), checkpoint_dir=str(d),
                      resume=True, verify_text=False)
    assert again.supersteps <= 1  # only the empty-frontier probe
    assert _snapshot(first) == _snapshot(again)


def test_manifest_counts_present(spark, pages, tmp_path):
    from ptt_spider_go_spark.plans.checkpoint import CheckpointManager

    d = tmp_path / "m"
    run_crawl(spark, pages, _cfg(), checkpoint_dir=str(d), verify_text=False)
    ck = CheckpointManager(str(d), spark)
    m = ck.load_manifest()
    assert m is not None
    assert set(m["tables"]) == {
        "frontier", "seen", "articles_delta", "contents_delta", "fetch_log_delta"
    }
    assert m["tables"]["seen"] > 0


def test_expire_snapshots_keeps_history_drops_stale_state(spark, pages,
                                                          tmp_path):
    """Iceberg expire_snapshots analogue: after a multi-step crawl,
    only the latest step still holds frontier/seen, every step keeps
    its *_delta history, and resume from the expired store is exact."""
    import os

    d = tmp_path / "exp"
    full = run_crawl(spark, pages, _cfg(), checkpoint_dir=str(d),
                     verify_text=False)
    assert full.supersteps >= 2
    from ptt_spider_go_spark.plans.checkpoint import CheckpointManager

    ck = CheckpointManager(str(d), spark)
    last = ck.last_committed_step()
    for step in range(last + 1):
        state_present = os.path.exists(ck.table_path(step, "seen"))
        assert state_present == (step == last), step
        assert os.path.exists(ck.table_path(step, "articles_delta")), step

    # resume over the expired store is still a no-op with equal tables
    again = run_crawl(spark, pages, _cfg(), checkpoint_dir=str(d),
                      resume=True, verify_text=False)
    assert _snapshot(full) == _snapshot(again)
