"""X111: mergeable HLL distinct-count telemetry.

The reference's progress counters are one process's atomic ints
(performance/optimizer.go); at 10^10 URLs cumulative distinct-URL
telemetry becomes a mergeable-sketch problem. These tests pin the
properties the operator's contract rests on: the sketch union over
per-step sketches reports the same cardinality as one sketch over the
whole log (mergeability — the reason sketches replace re-scans), exact
sides are exact, steps with zero NEW urls still report, and the
bounded-error flags hold on fixed data (DataSketches is deterministic
for a given input set, so none of this is tolerance-flaky).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ptt_spider_go_spark.operators.sketches import (
    cumulative_sketches,
    distinct_telemetry,
    superstep_sketches,
)


def _log(spark, n_urls=3000, steps=4, repeat_every=5):
    """Deterministic fetch log: url u appears at step hash(u)%steps,
    and every `repeat_every`-th url ALSO repeats at every later step —
    so per-step sets overlap and cumulative < sum of steps."""
    base = spark.range(n_urls).select(
        F.concat(F.lit("http://t.test/u"), F.col("id").cast("string"))
        .alias("url"),
        F.pmod(F.col("id") * 2654435761, F.lit(steps)).cast("int")
        .alias("first_step"),
        F.col("id").alias("id"),
    )
    extra = (
        base.filter(F.pmod(F.col("id"), F.lit(repeat_every)) == 0)
        .select(
            "url",
            F.explode(
                F.sequence(F.col("first_step") + 1, F.lit(steps - 1))
            ).alias("superstep"),
        )
        .filter(F.col("superstep") < steps)
    )
    first = base.select("url", F.col("first_step").alias("superstep"))
    return first.unionByName(extra).select("superstep", "url")


def test_exact_sides_are_exact(spark):
    log = _log(spark)
    out = {
        r["superstep"]: r
        for r in distinct_telemetry(log).collect()
    }
    rows = log.collect()
    seen: set[str] = set()
    cum = {}
    per = {}
    for s in sorted({r["superstep"] for r in rows}):
        step_urls = {r["url"] for r in rows if r["superstep"] == s}
        per[s] = len(step_urls)
        seen |= step_urls
        cum[s] = len(seen)
    assert {s: out[s]["n_exact"] for s in out} == per
    assert {s: out[s]["cum_exact"] for s in out} == cum


def test_union_of_parts_equals_whole(spark):
    """Mergeability: the union of per-step sketches estimates the SAME
    cardinality as one sketch built over the entire log — HLL registers
    are maxes, and max distributes over union, so the register states
    (and hence the estimates) are identical, not merely close."""
    log = _log(spark)
    last = (
        cumulative_sketches(superstep_sketches(log))
        .orderBy(F.col("superstep").desc())
        .limit(1)
        .collect()[0]["est_cum"]
    )
    whole = log.agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("url", F.lit(12))).alias("e")
    ).collect()[0]["e"]
    assert last == whole


def test_step_with_no_new_urls_still_reports(spark):
    rows = [(0, "http://t.test/a"), (0, "http://t.test/b"),
            (1, "http://t.test/a"), (1, "http://t.test/b")]
    log = spark.createDataFrame(rows, "superstep int, url string")
    out = {r["superstep"]: r for r in distinct_telemetry(log).collect()}
    assert out[1]["n_exact"] == 2
    assert out[1]["cum_exact"] == 2  # nothing new at step 1
    assert out[0]["cum_exact"] == 2


def test_bounded_error_flags_hold(spark):
    out = distinct_telemetry(_log(spark, n_urls=20000)).collect()
    assert len(out) == 4
    assert all(r["est_ok"] and r["cum_ok"] for r in out)


def test_estimates_track_exact_within_tolerance(spark):
    """The flag is not vacuous: recompute the ppm check from the raw
    estimates and confirm it is the same predicate the operator
    evaluated."""
    log = _log(spark, n_urls=20000)
    sk = superstep_sketches(log)
    est = {r["superstep"]: r for r in cumulative_sketches(sk).collect()}
    tel = {r["superstep"]: r for r in distinct_telemetry(log).collect()}
    for s, t in tel.items():
        e = round(est[s]["est_step"])
        assert (abs(e - t["n_exact"]) * 1_000_000
                <= 50_000 * t["n_exact"]) == t["est_ok"]


def test_run_crawl_sketch_telemetry_side_output(spark):
    """Sketch telemetry over a crawl's fetch log: one telemetry row per
    superstep that fetched, and the final cumulative estimate equals
    the fetch log's exact distinct-URL count (HLL is exact at this
    cardinality — sparse mode)."""
    from ptt_spider_go_spark.config import CrawlConfig
    from ptt_spider_go_spark.datagen import pages_pandas
    from ptt_spider_go_spark.plans.crawl import run_crawl

    pages = spark.createDataFrame(
        pages_pandas(boards=("Test",), pages_per_board=2,
                     slots_per_page=4))
    cfg = CrawlConfig(board="Test", pages=2, push_rate=0,
                      host_salt=2, max_supersteps=4)
    res = run_crawl(spark, pages, cfg)
    url_telemetry = cumulative_sketches(
        superstep_sketches(res.fetch_log.select("superstep", "url")))
    tel = {r["superstep"]: r for r in url_telemetry.collect()}
    steps = [r["superstep"]
             for r in res.fetch_log.select("superstep").distinct().collect()]
    assert sorted(tel) == sorted(steps)
    exact = res.fetch_log.select("url").distinct().count()
    assert round(tel[max(tel)]["est_cum"]) == exact


def _exact_q(values, p_ppm):
    """Reference: min value whose rank (#{x <= v}) reaches ceil(p*n)."""
    s = sorted(values)
    n = len(s)
    r = (p_ppm * n + 999_999) // 1_000_000
    return s[r - 1]


def test_quantile_exact_side_matches_reference(spark):
    from ptt_spider_go_spark.operators.sketches import (
        QUANTILE_PROBS_PPM,
        quantile_sketch_telemetry,
    )

    values = [((i * 2654435761) % 9973) for i in range(5000)]
    vals = spark.createDataFrame([(v,) for v in values], "v long")
    out = {r["p_ppm"]: r for r in quantile_sketch_telemetry(vals).collect()}
    assert set(out) == set(QUANTILE_PROBS_PPM)
    for p in QUANTILE_PROBS_PPM:
        assert out[p]["n"] == 5000
        assert out[p]["exact_q"] == _exact_q(values, p)
        assert out[p]["rank_ok"]


def test_quantile_duplicate_heavy_distribution(spark):
    """90% of the mass on one value: exact_q must be that value for
    every probe at or under the mass point, and the rank check must
    hold on the step function."""
    from ptt_spider_go_spark.operators.sketches import (
        quantile_sketch_telemetry,
    )

    values = [7] * 9000 + list(range(100, 1100))
    vals = spark.createDataFrame([(v,) for v in values], "v long")
    out = {r["p_ppm"]: r for r in quantile_sketch_telemetry(vals).collect()}
    for p in (250_000, 500_000, 750_000, 900_000):
        assert out[p]["exact_q"] == 7
        assert out[p]["rank_ok"]
    assert out[990_000]["exact_q"] == _exact_q(values, 990_000)
    assert out[990_000]["rank_ok"]


def test_quantile_empty_input(spark):
    from ptt_spider_go_spark.operators.sketches import (
        QUANTILE_PROBS_PPM,
        quantile_sketch_telemetry,
    )

    vals = spark.createDataFrame([], "v long")
    out = quantile_sketch_telemetry(vals).collect()
    assert len(out) == len(QUANTILE_PROBS_PPM)
    assert all(r["exact_q"] is None and r["rank_ok"] for r in out)


def test_lg_k_plumbs_through(spark):
    log = _log(spark, n_urls=500)
    a = superstep_sketches(log, lg_k=4).collect()
    b = superstep_sketches(log, lg_k=12).collect()
    # same exact counts, different sketch payloads (register counts)
    assert {r["superstep"]: r["n_exact"] for r in a} == \
        {r["superstep"]: r["n_exact"] for r in b}
    sa = {r["superstep"]: bytes(r["sketch"]) for r in a}
    sb = {r["superstep"]: bytes(r["sketch"]) for r in b}
    assert any(sa[s] != sb[s] for s in sa)


# ---------------------------------------------------------------------------
# X113: count-min frequency-sketch telemetry
# ---------------------------------------------------------------------------

import hashlib

from ptt_spider_go_spark.operators.sketches import (
    CMS_DEPTH,
    CMS_SEED_BASE,
    CMS_WIDTH,
    cms_cells,
    cms_estimate,
    cms_frequency_telemetry,
    cms_merge,
)


def _mirror_cell(key: str, r: int, width: int) -> int:
    """Pure-Python twin of the engine's md5-prefix row hash."""
    h = hashlib.md5(f"{CMS_SEED_BASE + r}:{key}".encode()).hexdigest()
    return int(h[:15], 16) % width


def _mirror_cells(keys, depth, width):
    cells: dict[tuple[int, int], int] = {}
    for k in keys:
        for r in range(depth):
            rc = (r, _mirror_cell(k, r, width))
            cells[rc] = cells.get(rc, 0) + 1
    return cells


def _mirror_est(cells, key, depth, width):
    return min(
        cells.get((r, _mirror_cell(key, r, width)), 0)
        for r in range(depth)
    )


def _host_rows(spark, n=4000, hosts=300):
    """Skewed host stream: squared-uniform ids, like the oracle query."""
    return spark.range(n).select(
        F.concat(
            F.lit("h"),
            (
                F.pmod(F.col("id") * 2654435761, F.lit(hosts))
                * F.pmod(F.col("id") * 2654435761, F.lit(hosts))
                / F.lit(hosts)
            ).cast("long").cast("string"),
        ).alias("host")
    )


def test_cms_cells_match_pure_python_mirror(spark):
    """The Spark sketch IS the textbook sketch: every (r, c, cnt) cell
    equals a pure-Python CMS built with the same hash family."""
    rows = _host_rows(spark, n=2000, hosts=150)
    got = {
        (r["r"], r["c"]): r["cnt"]
        for r in cms_cells(rows, key_col="host", depth=3, width=64).collect()
    }
    want = _mirror_cells(
        [r["host"] for r in rows.collect()], depth=3, width=64)
    assert got == want


def test_cms_never_underestimates(spark):
    """est >= exact for EVERY key, even at a brutally small width
    (heavy collisions) — the structural CMS guarantee."""
    rows = _host_rows(spark, n=3000, hosts=200)
    exact = {
        r["host"]: r["cnt"]
        for r in rows.groupBy("host").agg(
            F.count("*").alias("cnt")).collect()
    }
    cells = cms_cells(rows, key_col="host", depth=4, width=16)
    probes = rows.select("host").distinct()
    est = {
        r["host"]: r["est_cnt"]
        for r in cms_estimate(
            cells, probes, key_col="host", depth=4, width=16).collect()
    }
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)


def test_cms_merge_of_parts_equals_whole(spark):
    """Linearity: cell-wise sum of part sketches == whole-stream sketch
    EXACTLY (the property that lets per-superstep sketches answer any
    window without re-scanning history)."""
    rows = _host_rows(spark, n=3000, hosts=200).withColumn(
        "part", F.pmod(F.monotonically_increasing_id(), F.lit(3)))
    parts = [
        cms_cells(rows.filter(F.col("part") == p), key_col="host")
        for p in range(3)
    ]
    merged = {
        (r["r"], r["c"]): r["cnt"] for r in cms_merge(*parts).collect()
    }
    whole = {
        (r["r"], r["c"]): r["cnt"]
        for r in cms_cells(rows, key_col="host").collect()
    }
    assert merged == whole


def test_cms_single_key_is_exact_and_unseen_key_matches_mirror(spark):
    """One distinct key -> est == exact (no other mass to collide
    with); an unseen probe key estimates exactly what the mirror says
    (0 unless all depth cells collide with the occupied ones)."""
    rows = spark.range(37).select(F.lit("only-key").alias("host"))
    cells = cms_cells(rows, key_col="host")
    probes = spark.createDataFrame(
        [("only-key",), ("never-inserted",)], "host string")
    est = {
        r["host"]: r["est_cnt"]
        for r in cms_estimate(cells, probes, key_col="host").collect()
    }
    assert est["only-key"] == 37
    mirror = _mirror_cells(["only-key"] * 37, CMS_DEPTH, CMS_WIDTH)
    assert est["never-inserted"] == _mirror_est(
        mirror, "never-inserted", CMS_DEPTH, CMS_WIDTH)


def test_cms_telemetry_report(spark):
    """Telemetry schema + flags on the skewed stream: probes are the
    deterministic top-k by (exact DESC, key ASC), over_ok holds
    everywhere, bound_ok holds at the default 4x512 geometry, and the
    estimates equal the pure-Python mirror's."""
    rows = _host_rows(spark, n=4000, hosts=300)
    out = cms_frequency_telemetry(rows, key_col="host", top_k=8).collect()
    assert len(out) == 8
    exact = sorted(
        (
            (r["cnt"], r["host"])
            for r in rows.groupBy("host").agg(
                F.count("*").alias("cnt")).collect()
        ),
        key=lambda t: (-t[0], t[1]),
    )[:8]
    got = [(r["exact_cnt"], r["host"]) for r in sorted(
        out, key=lambda r: (-r["exact_cnt"], r["host"]))]
    assert got == exact
    assert all(r["over_ok"] for r in out)
    assert all(r["bound_ok"] for r in out)
    mirror = _mirror_cells(
        [r["host"] for r in rows.collect()], CMS_DEPTH, CMS_WIDTH)
    for r in out:
        assert r["est_cnt"] == _mirror_est(
            mirror, r["host"], CMS_DEPTH, CMS_WIDTH)


# ---------------------------------------------------------------------------
# X114: KMV / theta-style distinct sketches with set operations
# ---------------------------------------------------------------------------

from ptt_spider_go_spark.operators.sketches import (
    KMV_HASH_SPACE,
    KMV_K,
    KMV_SEED,
    kmv_estimate,
    kmv_intersection_estimate,
    kmv_overlap_telemetry,
    kmv_sketch,
    kmv_union,
)


def _kmv_mirror_hv(key: str) -> int:
    h = hashlib.md5(f"{KMV_SEED}:{key}".encode()).hexdigest()
    return int(h[:15], 16)


def _kmv_mirror_est(keys, k):
    hvs = sorted({_kmv_mirror_hv(x) for x in keys})[:k]
    if len(hvs) < k:
        return len(hvs)
    return int((k - 1) * float(KMV_HASH_SPACE) / float(hvs[-1]) // 1)


def _urls(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("http://t.test/u"), F.col("id").cast("string"))
        .alias("url"))


def test_kmv_union_of_sketches_equals_sketch_of_union(spark):
    """kmv_union(kmv(A), kmv(B)) == kmv(A ∪ B) EXACTLY — the k
    smallest of the union lie inside the union of the k smallests."""
    a, b = _urls(spark, 0, 5000), _urls(spark, 3000, 9000)
    k = 256
    via_sketches = sorted(
        r["hv"] for r in kmv_union(
            kmv_sketch(a, "url", k), kmv_sketch(b, "url", k), k).collect())
    direct = sorted(
        r["hv"]
        for r in kmv_sketch(a.unionByName(b), "url", k).collect())
    assert via_sketches == direct


def test_kmv_unsaturated_sketch_is_exact(spark):
    """Fewer distinct keys than k -> the sketch holds the whole set
    and every estimate (including intersection) is EXACT."""
    a, b = _urls(spark, 0, 300), _urls(spark, 200, 450)
    out = {
        r["metric"]: r
        for r in kmv_overlap_telemetry(a, b, key_col="url").collect()
    }
    assert out["a"]["exact"] == out["a"]["est"] == 300
    assert out["b"]["exact"] == out["b"]["est"] == 250
    assert out["union"]["exact"] == out["union"]["est"] == 450
    assert out["intersection"]["exact"] == out["intersection"]["est"] == 100
    assert all(r["est_ok"] for r in out.values())


def test_kmv_saturated_estimates_match_pure_python_mirror(spark):
    """Bit-exact estimator parity with a pure-Python KMV on the same
    hash family — the same strength the DuckDB oracle pins."""
    k = 128
    a = _urls(spark, 0, 4000)
    est = kmv_estimate(kmv_sketch(a, "url", k), k)
    assert est == _kmv_mirror_est(
        [f"http://t.test/u{i}" for i in range(4000)], k)
    # and the estimate is actually approximate here (saturated regime)
    assert est != 4000 and abs(est - 4000) * 10 <= 4000


def test_kmv_intersection_tracks_true_overlap(spark):
    a, b = _urls(spark, 0, 8000), _urls(spark, 4000, 12000)
    sa = kmv_sketch(a, "url")
    sb = kmv_sketch(b, "url")
    est = kmv_intersection_estimate(sa, sb)
    assert abs(est - 4000) * 1_000_000 <= 150_000 * 4000


def test_kmv_disjoint_snapshots_intersect_to_zero(spark):
    a, b = _urls(spark, 0, 3000), _urls(spark, 3000, 6000)
    out = {
        r["metric"]: r
        for r in kmv_overlap_telemetry(a, b, key_col="url").collect()
    }
    assert out["intersection"]["exact"] == 0
    assert out["intersection"]["est"] == 0
    assert out["intersection"]["est_ok"]


# ---------------------------------------------------------------------------
# X118: AMS F2 sketch (join-size estimation)
# ---------------------------------------------------------------------------

from ptt_spider_go_spark.operators.sketches import (
    AMS_BUCKET,
    AMS_DEPTH,
    AMS_GROUPS,
    AMS_SEED_BASE,
    ams_f2_estimate,
    ams_f2_sketch,
    ams_f2_telemetry,
    ams_merge,
)


def _ams_mirror_z(keys, depth):
    zs = [0] * depth
    for k in keys:
        for r in range(depth):
            h = int(
                hashlib.md5(f"{AMS_SEED_BASE + r}:{k}".encode())
                .hexdigest()[:15],
                16,
            )
            zs[r] += 1 - 2 * (h % 2)
    return zs


def test_ams_sketch_matches_pure_python_mirror(spark):
    rows = _host_rows(spark, n=1500, hosts=120)
    got = {r["r"]: r["z"] for r in
           ams_f2_sketch(rows, key_col="host", depth=10).collect()}
    want = _ams_mirror_z([r["host"] for r in rows.collect()], 10)
    assert got == {r: z for r, z in enumerate(want)}


def test_ams_merge_is_exact_linearity(spark):
    rows = _host_rows(spark, n=2000, hosts=150).withColumn(
        "part", F.pmod(F.monotonically_increasing_id(), F.lit(2)))
    parts = [
        ams_f2_sketch(rows.filter(F.col("part") == p), key_col="host")
        for p in range(2)
    ]
    merged = {r["r"]: r["z"] for r in ams_merge(*parts).collect()}
    whole = {r["r"]: r["z"] for r in
             ams_f2_sketch(rows, key_col="host").collect()}
    assert merged == whole


def test_ams_estimate_is_exact_on_distinct_only_stream(spark):
    """All keys distinct -> F2 = n exactly, and every z is a sum of n
    independent +-1's whose square concentrates; the flag must hold
    and the exact side must equal n."""
    rows = spark.range(3000).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("host"))
    out = ams_f2_telemetry(rows, key_col="host").first()
    assert out["exact_f2"] == 3000
    assert out["within_2x"]


def test_ams_estimate_within_2x_on_skewed_stream(spark):
    rows = _host_rows(spark, n=4000, hosts=300)
    out = ams_f2_telemetry(rows, key_col="host").first()
    # exact F2 from first principles
    from collections import Counter
    c = Counter(r["host"] for r in rows.collect())
    assert out["exact_f2"] == sum(v * v for v in c.values())
    assert out["within_2x"]
    # and the estimate equals the mirror's median-of-means
    zs = _ams_mirror_z(list(c.elements()), AMS_DEPTH)
    means = sorted(
        sum(z * z for z in zs[g * AMS_BUCKET:(g + 1) * AMS_BUCKET])
        // AMS_BUCKET
        for g in range(AMS_GROUPS)
    )
    assert out["est_f2"] == means[AMS_GROUPS // 2]


def test_ams_empty_stream(spark):
    rows = spark.createDataFrame([], "host string")
    out = ams_f2_telemetry(rows, key_col="host").first()
    assert out["exact_f2"] == 0 and out["est_f2"] == 0
    assert not out["within_2x"] or out["est_f2"] == 0


# ---------------------------------------------------------------------------
# X119: rendezvous (HRW) hashing
# ---------------------------------------------------------------------------

from ptt_spider_go_spark.operators.sketches import (
    RV_SEED,
    rendezvous_assign,
    rendezvous_rebalance_report,
)


def _rv_mirror(key: str, n: int) -> int:
    best = None
    for s in range(n):
        h = int(
            hashlib.md5(f"{RV_SEED}:{s}:{key}".encode()).hexdigest()[:15],
            16,
        )
        if best is None or (h, s) > best:
            best = (h, s)
    return best[1]


def test_rendezvous_matches_pure_python_mirror(spark):
    keys = spark.range(400).select(
        F.concat(F.lit("host"), F.col("id").cast("string")).alias("key"))
    got = {r["key"]: r["shard"]
           for r in rendezvous_assign(keys, "key", 12).collect()}
    assert got == {k: _rv_mirror(k, 12) for k in got}


def test_rendezvous_grow_moves_only_to_new_shards(spark):
    """THE property: every key that changes owner on 8 -> 13 moves to
    a NEW shard — survivors never reshuffle among themselves."""
    keys = spark.range(2000).select(
        F.concat(F.lit("host"), F.col("id").cast("string")).alias("key"))
    a = rendezvous_assign(keys, "key", 8).withColumnRenamed(
        "shard", "s8")
    both = rendezvous_assign(a, "key", 13).withColumnRenamed(
        "shard", "s13").collect()
    moved = [r for r in both if r["s8"] != r["s13"]]
    assert moved  # growth does claim keys
    assert all(r["s13"] >= 8 for r in moved)
    # and the expected share moved: ~5/13 of keys, generous band
    assert 0.2 <= len(moved) / len(both) <= 0.55


def test_rendezvous_shrink_moves_only_orphans(spark):
    """Removing shards relocates exactly the orphaned keys."""
    keys = spark.range(1500).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("key"))
    a = rendezvous_assign(keys, "key", 10).withColumnRenamed(
        "shard", "s10")
    both = rendezvous_assign(a, "key", 7).withColumnRenamed(
        "shard", "s7").collect()
    for r in both:
        if r["s10"] <= 6:
            assert r["s7"] == r["s10"]   # survivors keep their shard
        else:
            assert r["s7"] <= 6          # orphans land on survivors


def test_rendezvous_rebalance_report_structural_flags(spark):
    keys = spark.range(3000).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("host"))
    got = {r["metric"]: r["value"]
           for r in rendezvous_rebalance_report(
               keys, key_col="host", n_from=8, n_to=10).collect()}
    assert got["n_keys"] == 3000
    assert got["minimal_disruption"] == 1
    assert got["n_moved"] == got["n_moved_to_new"]
    # balance: fullest of 10 shards near 1/10 of keys (ppm, wide band)
    assert 80_000 <= got["max_load_ppm_to"] <= 140_000
