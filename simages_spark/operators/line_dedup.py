"""Segment(line)-level corpus-wide dedup — the CCNet / RefinedWeb tier.

Web-scale training pipelines dedup at THREE granularities: whole document
(operators/exact.py, the reference's sha-grouping analog,
src/simages/duplicate_finder.py:255-283), duplicated substring runs
(operators/suffix.py, Lee et al. ACL'22), and repeated *lines/segments* —
the boilerplate tier (cookie banners, nav text, footers) that CCNet
(Wenzek et al., LREC'20) and RefinedWeb remove by hashing normalized
lines corpus-wide and keeping only the first occurrence. The reference
has no analog (single images have no "lines"); this operator is part of
the training-data-pipeline surface the engine adds on top.

Our canonical texts are whitespace-normalized single-line strings, so
the "line" here is a fixed-width token window: consecutive runs of
`words_per_segment` canonical tokens (functions/shingles.py tokenizer —
the SAME tokenization every other tier uses, so the oracle mirrors from
one source of truth). For corpora with real newlines, pass a splitter
built on split('\\n') instead; the election/rollup/reassembly machinery
below is granularity-agnostic.

Scale posture (the part that matters at 100 TB):
- segmentation is pure JVM column algebra (tokens → slice windows →
  posexplode) — whole-stage codegen, no Python;
- keeper election is groupBy(segment_key).agg(min(struct(doc_id, pos)))
  — map-side partial aggregation absorbs hot boilerplate keys (a
  10^9-occurrence cookie banner contributes ONE row per map task to the
  shuffle), which is exactly why this is NOT a
  Window.partitionBy(key).row_number() (one task would hold the whole
  hot key);
- occurrence marking is an equi-join occurrences ⋈ winners on the
  segment key — sort-merge, AQE-skew-splittable;
- the segment key is the full 128-bit md5 hex of the segment text, not
  the 60-bit shingle hash: line removal is DESTRUCTIVE (a collision
  deletes an innocent line), and at ~10^12 segments a 60-bit space is
  past its birthday bound while 128-bit collisions stay negligible.
  md5 is portable to the DuckDB oracle verbatim.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from simages_spark.functions.shingles import tokens_col

DEFAULT_WORDS_PER_SEGMENT = 10


def segments_col(text: Column, words_per_segment: int = DEFAULT_WORDS_PER_SEGMENT) -> Column:
    """array<string> of consecutive `words_per_segment`-token windows.

    The last window may be shorter (slice clamps); zero-token texts map
    to an EMPTY array — the sequence() guard matters because
    sequence(0, -1) in Spark is [0, -1], not [].
    """
    toks = tokens_col(text)
    w = words_per_segment
    n_seg = F.ceil(F.size(toks) / F.lit(float(w))).cast("int")
    windows = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * w + 1, w)),
    )
    return F.when(F.size(toks) > 0, windows).otherwise(
        F.array().cast("array<string>")
    )


def doc_segments(
    docs: DataFrame,
    words_per_segment: int = DEFAULT_WORDS_PER_SEGMENT,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, pos, segment, seg_key) — one row per segment occurrence.

    `seg_key` is the md5 hex of the segment string (see module note on
    why 128 bits, not the 60-bit shingle hash). Null/empty texts emit no
    rows; doc-level consumers re-attach them via a left join.
    """
    segs = docs.select(
        "doc_id",
        F.posexplode(
            segments_col(F.col(text_col), words_per_segment)
        ).alias("pos", "segment"),
    )
    return segs.withColumn("seg_key", F.md5(F.col("segment")))


_ENC_TWO63 = "CAST('9223372036854775808' AS DECIMAL(38,0))"  # 2^63
_ENC_MUL = "CAST('2147483648' AS DECIMAL(38,0))"  # 2^31 > any pos (int32 ≥ 0)


def segment_keepers(occurrences: DataFrame) -> DataFrame:
    """Corpus-wide keep-first election: per seg_key, the (doc_id, pos)
    of the FIRST occurrence under (doc_id asc, pos asc) — the same
    keep-first order every other dedup tier uses (min doc_id keeps,
    reference keeper semantics src/simages/duplicate_finder.py:403-409).

    One shuffle with map-side partial agg; hot boilerplate keys reduce
    map-side instead of serializing through one window task.

    The lexicographic (doc_id, pos) min is computed over ONE
    decimal(38,0) encoding, (doc_id + 2^63)·2^31 + pos — strictly
    monotone in (doc_id asc, pos asc), exact (≤ 29 digits), and decoded
    losslessly below. Why not `min(struct(doc_id, pos))`: a struct
    aggregation buffer is not a mutable UnsafeRow type, so the planner
    fell back to SortAggregate and SORTED every occurrence row on both
    sides of the exchange (observed in the plan; guide §7.2). The
    decimal buffer is fixed-width mutable → plain HashAggregate, and the
    map-side partial agg still collapses hot boilerplate keys — now
    without the sorts. Equality with the struct-min form is pinned by
    tests/test_line_dedup.py over full-range doc_ids.

    Precondition: 0 ≤ pos < 2^31 (posexplode positions always are). A
    pos outside it would spill into the doc_id digits of the key and
    elect or decode the wrong keeper, so it fails the job instead.
    """
    two63, mul = F.expr(_ENC_TWO63), F.expr(_ENC_MUL)
    pos = F.col("pos")
    checked_pos = F.when(
        (pos < 0) | (pos >= F.lit(2**31)),
        F.raise_error(F.lit("segment_keepers: pos must be in [0, 2^31)")),
    ).otherwise(pos)
    enc = (
        F.col("doc_id").cast("decimal(38,0)") + two63
    ) * mul + checked_pos.cast("decimal(38,0)")
    w_pos = F.col("_e") % mul
    return occurrences.groupBy("seg_key").agg(F.min(enc).alias("_e")).select(
        "seg_key",
        ((F.col("_e") - w_pos) / mul - two63).cast("long").alias("w_doc_id"),
        w_pos.cast("int").alias("w_pos"),
    )


def _marked_occurrences(
    docs: DataFrame, words_per_segment: int, text_col: str
) -> DataFrame:
    occ = doc_segments(docs, words_per_segment, text_col)
    winners = segment_keepers(occ)
    # winners has the same cardinality class as occurrences (≈ one row
    # per distinct segment) — never genuinely broadcastable beyond toy
    # corpora, but Catalyst prices the in-memory explode→agg chain small
    # enough to auto-broadcast at ANY corpus size (the same misestimate
    # that blew the verify payload join at 10M — see verify.py). Pin
    # sort-merge: spillable, AQE-skew-splittable, what accurate stats
    # would pick anyway.
    return occ.join(winners.hint("merge"), "seg_key").withColumn(
        "is_dup",
        (F.col("doc_id") != F.col("w_doc_id"))
        | (F.col("pos") != F.col("w_pos")),
    )


def line_dup_stats(
    docs: DataFrame,
    words_per_segment: int = DEFAULT_WORDS_PER_SEGMENT,
    text_col: str = "text",
) -> DataFrame:
    """Per-doc boilerplate accounting: (doc_id, n_segments,
    n_dup_segments, dup_segment_ratio). Docs with no tokens report 0/0
    with NULL ratio (they hold nothing dedupable — same convention as
    source_dup_stats' empty-doc handling)."""
    marked = _marked_occurrences(docs, words_per_segment, text_col)
    per_doc = marked.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dup_segments"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_segments", F.lit(0)).alias("n_segments"),
            F.coalesce("n_dup_segments", F.lit(0)).alias("n_dup_segments"),
            F.round(
                F.col("n_dup_segments").cast("double") / F.col("n_segments"), 6
            ).alias("dup_segment_ratio"),
        )
    )


def line_deduped_corpus(
    docs: DataFrame,
    words_per_segment: int = DEFAULT_WORDS_PER_SEGMENT,
    text_col: str = "text",
) -> DataFrame:
    """The segment-deduped corpus: every repeated segment keeps exactly
    its first corpus-wide occurrence; later occurrences are CUT from
    their doc's text (order of surviving segments preserved). Returns
    (doc_id, text_deduped, n_segments_kept); fully-boilerplate docs
    survive with empty text (dropping them is a separate policy call —
    no silent row loss here).

    Reassembly is one doc-keyed shuffle: sort_array over collected
    (pos, segment) structs — per-doc bounded, no window.
    """
    marked = _marked_occurrences(docs, words_per_segment, text_col)
    kept = marked.where(~F.col("is_dup"))
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "segment"))),
                lambda s: s["segment"],
            ),
        ).alias("text_deduped"),
        F.count("*").alias("n_segments_kept"),
    )
    return (
        docs.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text_deduped", F.lit("")).alias("text_deduped"),
            F.coalesce("n_segments_kept", F.lit(0)).alias("n_segments_kept"),
        )
    )


def duckdb_segments_cte(
    words_per_segment: int = DEFAULT_WORDS_PER_SEGMENT,
    tokens_sql: str | None = None,
    table: str = "documents",
) -> str:
    """DuckDB mirror of doc_segments as a CTE body over `table`:
    yields (doc_id, pos, seg). Single source of truth for the oracle —
    generated next to the Spark implementation so a segmentation change
    cannot drift silently. `table` may be any relation name visible in
    the enclosing query (e.g. a survivors CTE in the curation oracle)."""
    from simages_spark.functions.shingles import DUCKDB_TOKENS_SQL

    toks = tokens_sql or DUCKDB_TOKENS_SQL.format(text="text")
    w = words_per_segment
    return f"""
      SELECT doc_id, u.pos AS pos, u.seg AS seg
      FROM (
        SELECT doc_id, unnest(
          [struct_pack(
             pos := i - 1,
             seg := array_to_string(toks[(i-1)*{w}+1:(i-1)*{w}+{w}], ' '))
           for i in range(1, CAST(ceil(len(toks)/{w}.0) AS INT) + 1)]
        ) AS u
        FROM (SELECT doc_id, {toks} AS toks FROM {table})
      )
    """.strip()
