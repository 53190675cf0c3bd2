"""Content-defined chunking + chunk-level dedup receipts (X139).

Fixed-size chunking (X39 `chunk_documents` — the MODEL-side context
chunker) breaks at byte one: insert a character and every downstream
chunk boundary shifts, so nothing dedups. STORAGE-side dedup
(the LBFS/Venti/restic/casync family; how WARC archives and
content-addressable corpus stores dedup revisions) therefore derives
boundaries from the CONTENT: a boundary falls wherever a rolling
window hash satisfies h % D == 0, so an edit perturbs only the
chunks it touches and every chunk to the right re-aligns and dedups
again — the shift-resistance property (pinned in tests: prepend a
char, tail chunk hashes unchanged).

Semantics (deterministic, oracle-exact): the window hash is the
repo-wide 60-bit md5 over the 8-char window ENDING at position i
(the X134 gram construction, window-end aligned); a chunk boundary
falls AFTER position i when h_i % 64 == 0 (expected chunk ~64
chars). Chunks are the substrings between consecutive boundaries;
docs shorter than the window are one whole-doc chunk. This is the
textbook basic CDC: no min/max chunk clamps — those are an
engineering refinement that makes selection sequentially stateful
(each boundary's eligibility depends on the previous accept), which
buys bounded metadata at the cost of slightly worse dedup; the
documented trade-off here is the pure content-defined rule, whose
degenerate case (adversarial content with no or all boundary hits)
is bounded by document length.

Distributed shape (the 100 TB contract): boundary selection and
chunk spans ride IN-ROW on `_let`-bound array expressions (the X134
lesson — the hash array is bound once; unbound references would
re-evaluate the md5 transform per reference), then ONE explode to
chunk rows; chunk hashing is map-only on the exploded rows. The
dedup receipt is ONE groupBy on the 60-bit chunk hash (map-side
combine) + ONE 1-row aggregate — chunk text never shuffles (only
hashes and lengths do).

Reference tie-in: the Go crawler stores every image byte-for-byte
with per-article dedup only (SURVEY §2 D1); storage-level chunk
dedup is pipeline-extension territory, composing with the X64
WARC / X85 CDX archive arc (revisit records point at deduped
content).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ptt_spider_go_spark.functions.columns import _let
from ptt_spider_go_spark.pipeline.common import md5_long
from ptt_spider_go_spark.pipeline.winnow import K, gram_hashes

#: boundary divisor: boundary after position i when h_i % D == 0.
CDC_D = 64


def _spans(text: Column) -> Column:
    """Array of (start, end) 1-based inclusive chunk spans for one
    document — boundary positions from the bound window-hash array
    (winnow.gram_hashes; element j is the window ending at j + K),
    spans between consecutive boundaries. Short docs (< K chars) are
    one whole-doc span; empty docs have none."""
    n = F.char_length(text)

    def spans_of(hs: Column) -> Column:
        # boundary positions: i where h_i % D == 0
        b = F.filter(
            F.transform(
                hs,
                lambda h, j: F.struct(
                    (j + K).cast("long").alias("p"), h.alias("h")
                ),
            ),
            lambda x: x["h"] % CDC_D == 0,
        )
        bpos = F.transform(b, lambda x: x["p"])
        starts = F.concat(
            F.array(F.lit(1).cast("long")),
            F.transform(bpos, lambda p: p + 1),
        )
        ends = F.concat(bpos, F.array(n.cast("long")))
        return F.filter(
            F.zip_with(
                starts, ends,
                lambda s, e: F.struct(s.alias("s"), e.alias("e")),
            ),
            lambda sp: sp["s"] <= sp["e"],
        )

    return F.when(n <= 0, F.array().cast(
        "array<struct<s:bigint,e:bigint>>"
    )).otherwise(_let(gram_hashes(text), spans_of))


def cdc_chunks(docs: DataFrame) -> DataFrame:
    """(doc_id, chunk_idx, start, length, chunk_hash): content-
    defined chunks per document — 0-based chunk_idx, 1-based char
    start, and the 60-bit md5 of the chunk text. Map-only (one
    in-row span computation + one explode). Unordered."""
    spans = docs.select(
        "doc_id", "text", _spans(F.col("text")).alias("sp")
    )
    ch = spans.select(
        "doc_id", "text",
        F.posexplode("sp").alias("chunk_idx", "c"),
    )
    return ch.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("c.s").alias("start"),
        (F.col("c.e") - F.col("c.s") + 1).cast("long").alias("length"),
        md5_long(
            F.substring(
                F.col("text"), F.col("c.s").cast("int"),
                (F.col("c.e") - F.col("c.s") + 1).cast("int"),
            )
        ).alias("chunk_hash"),
    )


def cdc_dedup_stats(docs: DataFrame) -> DataFrame:
    """One-row storage receipt: (n_chunks, n_distinct_chunks,
    total_chars, unique_chars, savings_ppm) — how many chunk chars a
    content-addressed store would NOT store again because an
    identical-hash chunk already exists. savings_ppm =
    (total − unique) · 10^6 DIV total (exact BIGINT; 0 for an empty
    corpus). unique_chars counts each distinct chunk hash's length
    once (chunk length is a function of the chunk text, hence of its
    hash)."""
    ch = cdc_chunks(docs)
    per_hash = ch.groupBy("chunk_hash").agg(
        F.count("*").alias("cnt"),
        F.min("length").alias("length"),
    )
    return per_hash.agg(
        F.sum("cnt").cast("long").alias("n_chunks"),
        F.count("*").cast("long").alias("n_distinct_chunks"),
        F.sum(F.col("cnt") * F.col("length")).cast("long")
        .alias("total_chars"),
        F.sum("length").cast("long").alias("unique_chars"),
    ).select(
        "n_chunks", "n_distinct_chunks", "total_chars", "unique_chars",
        F.when(
            F.col("total_chars") > 0,
            F.expr(
                "(total_chars - unique_chars) * 1000000 DIV total_chars"
            ),
        ).otherwise(F.lit(0)).cast("long").alias("savings_ppm"),
    )
