"""X116: the dataset card — the (metric, value) release report every
published corpus ships (C4/Pile/Gopher/FineWeb dataset cards all open
with the same table: document and token counts, per-language masses,
duplication rate, quality pass rate, length distribution points).
Every number is BIGINT and definitional — counts, integer token
masses, ppm rates by BIGINT cross-multiplication, and rank quantiles
stated as "min value whose rank reaches ceil(p*n)" (the X112 rule) —
so the DuckDB oracle restates each definition verbatim and matches
bit for bit; no float ever crosses an aggregation.

Scale shape: one narrow projection (char/token/hash per doc) is
materialized ONCE (localCheckpoint) and feeds the count/mass/dup
aggregates; vocabulary is one token explode -> distinct; the quality
rate reuses gopher_quality's single narrow pass; quantiles run on the
groupBy(v) value dimension with the module-standard triangular rank
join. Each aggregate is a scalar driver probe (the authority_budgets
idiom) and the card assembles driver-side — at 100 TB this is a
handful of one-shuffle jobs over a shared materialized projection,
the exact shape a release pipeline runs once per corpus cut.

Reference parity: none (extension) — the reference's closest artifact
is its progress summary (crawler.go counters); the card is what that
becomes when the output is a training corpus instead of a directory
of images.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ptt_spider_go_spark.pipeline.common import md5_long, tokens

#: quantile probe points, percent — integer rank targets
#: r_p = (p * n + 99) DIV 100.
CARD_QUANTILE_PCTS = (50, 90)


def dataset_card(docs: DataFrame) -> DataFrame:
    """(metric, value) BIGINT release report over a documents table
    (doc_id, lang, text). Metrics: n_docs, total_chars, total_tokens,
    distinct_tokens, n_langs, tokens_<lang> per language,
    exact_dup_docs, dup_rate_ppm, gopher_pass_ppm, len_p50, len_p90."""
    from ptt_spider_go_spark.pipeline.textstats import gopher_quality

    spark = docs.sparkSession

    base = docs.select(
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_toks"),
        F.md5("text").alias("h"),
    ).localCheckpoint(eager=True)

    head = base.agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).alias("total_chars"),
        F.coalesce(F.sum("n_toks"), F.lit(0)).alias("total_tokens"),
        F.count_distinct("lang").alias("n_langs"),
    ).first()
    n_docs = head["n_docs"]
    rows: list[tuple[str, int]] = [
        ("n_docs", n_docs),
        ("total_chars", head["total_chars"]),
        ("total_tokens", head["total_tokens"]),
        ("n_langs", head["n_langs"]),
    ]
    if n_docs == 0:
        return spark.createDataFrame(rows, "metric string, value long")

    rows += sorted(
        (f"tokens_{r['lang']}", r["m"])
        for r in base.groupBy("lang")
        .agg(F.sum("n_toks").alias("m"))
        .collect()
    )

    n_groups = base.select("h").distinct().count()
    dup_docs = n_docs - n_groups
    rows += [
        ("exact_dup_docs", dup_docs),
        ("dup_rate_ppm", dup_docs * 1_000_000 // n_docs),
    ]

    n_pass = (
        gopher_quality(docs)
        .agg(F.coalesce(
            F.sum(F.col("passes_gopher").cast("long")), F.lit(0)))
        .first()[0]
    )
    rows.append(("gopher_pass_ppm", n_pass * 1_000_000 // n_docs))

    rows.append((
        "distinct_tokens",
        docs.select(F.explode(tokens(F.col("text"))).alias("t"))
        .select("t").distinct().count(),
    ))

    # rank quantiles over n_chars: min v with #{x <= v} >= ceil(p*n),
    # computed on the distinct-value dimension (X112's shape).
    counts = base.groupBy("n_chars").agg(F.count("*").alias("c"))
    c2 = counts.select(F.col("n_chars").alias("_v"), "c")
    cum = (
        counts.select("n_chars")
        .join(c2, c2["_v"] <= F.col("n_chars"))
        .groupBy("n_chars")
        .agg(F.sum("c").alias("cum"))
    )
    for p in CARD_QUANTILE_PCTS:
        r_p = (p * n_docs + 99) // 100
        v = (
            cum.filter(F.col("cum") >= F.lit(r_p))
            .agg(F.min("n_chars"))
            .first()[0]
        )
        rows.append((f"len_p{p}", v))

    return spark.createDataFrame(rows, "metric string, value long")


# -- X117: order-independent corpus digest -------------------------------

#: Mersenne prime 2^61 - 1: the modular-sum digest's field. A decimal
#: (38,0) accumulator holds 10^10 rows x 2^60 hashes (~10^28 << 10^38)
#: exactly before the single end-of-aggregate reduction.
DIGEST_MOD = (1 << 61) - 1
_US = "\x1f"  # unit separator: unambiguous column joiner


def corpus_digest(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """(n_rows, digest_sum, digest_xor): an order- and partitioning-
    independent checksum of a table — the release/migration/resume
    equality check ("did two pipelines produce the same corpus?")
    that compares two 100 TB tables with one narrow aggregation each
    and a 3-value diff, no sort, no join, no co-location. Two
    independent reductions over the per-row md5 hash (sum mod 2^61-1
    in an exact DECIMAL(38,0) accumulator; bit_xor), both commutative
    and associative, so map-side partials combine and the digest is
    identical under any row order, partition count, or engine —
    DuckDB replays it bit-exactly. Multiset-correct: the modular SUM
    distinguishes duplicate multiplicities that a pure XOR would
    cancel (pytest-pinned), which is why both are reported.

    Rows are canonicalized as unit-separator-joined column strings
    (NULL -> a reserved sentinel distinct from any value's rendering),
    over `cols` (default: every column, in schema order)."""
    cols = list(df.columns) if cols is None else list(cols)
    canon = F.concat_ws(
        _US, *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
            for c in cols
        ])
    h = md5_long(canon).alias("h")
    return df.select(h).agg(
        F.count("*").alias("n_rows"),
        F.expr(
            f"CAST(coalesce(sum(CAST(h AS DECIMAL(38,0))), 0)"
            f" % {DIGEST_MOD} AS BIGINT)"
        ).alias("digest_sum"),
        F.expr("coalesce(bit_xor(h), 0)").alias("digest_xor"),
    )


def dedup_attrition(docs: DataFrame) -> DataFrame:
    """(keeper_source, loser_source, n_docs_lost, tokens_lost):
    cross-source dedup attrition matrix (X129) — WHO loses WHAT to
    WHOM when exact dedup keeps one copy per text. Released corpora
    report this accounting (FineWeb's cross-snapshot dedup tables:
    how much of each CC snapshot survives dedup against the others;
    Dolma's per-source attrition) because the answer changes the mix:
    if source B loses most of its tokens to keepers in source A, B's
    nominal share of the training mix is an illusion.

    Semantics: exact groups by md5(text) (the X1 key), keeper = the
    group's min doc_id (the X1/X15 canonical rule). Every NON-keeper
    doc contributes one row of evidence (its source loses the doc and
    its tokens) attributed to its keeper's source; same-source rows
    (keeper_source == loser_source) are intra-source duplication.
    Unique docs lose nothing and appear nowhere.

    Scale shape: one narrow (doc_id, source, md5, token-count)
    projection; ONE groupBy on the md5 key (map-side combinable
    min/count — text bytes never shuffle); keeper attribution is an
    equi-join back on the keeper doc_id (key cardinality = number of
    dup groups, far smaller than the corpus); the matrix groupBy
    emits at most |sources|² rows. All counts BIGINT — the oracle
    replays bit-exactly.

    Reference tie-in: the Go crawler's accounting is the progress
    counter set (progress.go); corpus-level release accounting is
    extension territory (SURVEY §2 X-table).
    """
    h = docs.select(
        "doc_id", "source", F.md5(F.col("text")).alias("h"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    keepers = h.groupBy("h").agg(F.min("doc_id").alias("keeper_id"))
    ksrc = h.select(F.col("doc_id").alias("keeper_id"),
                    F.col("source").alias("keeper_source"))
    losers = (
        h.join(keepers, "h")
        .filter(F.col("doc_id") != F.col("keeper_id"))
        .join(ksrc, "keeper_id")
    )
    return (
        losers.groupBy("keeper_source",
                       F.col("source").alias("loser_source"))
        .agg(
            F.count("*").cast("long").alias("n_docs_lost"),
            F.sum("n_tokens").cast("long").alias("tokens_lost"),
        )
        .orderBy("keeper_source", "loser_source")
    )
