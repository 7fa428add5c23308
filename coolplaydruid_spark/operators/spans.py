"""Cross-document duplicate-SPAN detection and removal — substring-level
dedup, the training-data step popularized by "Deduplicating Training
Data Makes Language Models Better" (Lee et al., 2022): near-identical
SPANS (boilerplate, licenses, templates) recur across otherwise-distinct
documents, and span-level removal recovers quality that document-level
dedup (operators/dedup.py) cannot.

Spark-first design — no suffix arrays, no Python:

  1. Per document, hash every ``window``-token sliding window
     (``transform`` over an index ``sequence`` with an
     ``element_at`` + ``concat`` gram builder + ``md5`` — one
     higher-order projection, whole-stage codegen).
  2. ``posexplode`` to (doc, pos, hash) rows — ~one row per token, the
     same scale as the shingle pass the MinHash pipeline already pays.
  3. groupBy(hash) marking hashes seen in ≥ ``min_docs`` DISTINCT
     documents — or repeated at all under ``within_doc=True`` —
     (map-side partial aggregation collapses per-partition repeats
     before the shuffle; the exchange is keyed by uniformly
     distributed md5 — no skew).
  4. Join the marks back; per document, the duplicated windows' covered
     token positions come from exploding each window's ``sequence`` of
     offsets (bounded by #duplicated windows × window, not corpus size).
  5. ``remove_duplicate_spans`` rewrites the text RELATIONALLY:
     posexplode tokens, LEFT ANTI join the covered positions, reassemble
     with ``sort_array(collect_list(...))`` — keyed shuffles, never a
     per-row scan over the covered set.

At 100 TB this is two shuffles (window-hash groupBy + the mark join,
both md5-keyed) over ~token-count rows — the same exchange profile as
MinHash-LSH, with no pairwise joins anywhere.

The fingerprint is the md5 of the space-joined window — EXACT matching
of normalized token spans (no hash-collision verification needed at
md5 widths), mirrored verbatim by the DuckDB oracle in contract.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from coolplaydruid_spark.operators.text import tokens
from coolplaydruid_spark.operators.util import spread

DEFAULT_WINDOW = 8


def _tokenized(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, __toks): the single tokenize projection every span pass
    derives from — n_tokens, window hashes, and the token-position rows
    all come from this frame, so ``cache=True`` callers pay ONE corpus
    tokenize instead of one per pass."""
    return spread(df, by=id_col).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )


def _window_hashes(tk: DataFrame, window: int, id_col: str) -> DataFrame:
    """(id, pos, h) from a ``_tokenized`` frame: one row per sliding
    window (docs shorter than ``window`` contribute none — plain
    posexplode drops empty arrays).

    The window string is built with element_at + concat, not
    slice + concat_ws — identical bytes, no per-window array allocation
    (the same ~8× win dedup.shingles documents for its gram builder;
    this projection runs at ~token-count rows)."""
    t = F.col("__toks")
    n = F.size(t)

    def win(i):  # i is the 1-based index of the window's first token
        parts = []
        for j in range(window):
            if j:
                parts.append(F.lit(" "))
            parts.append(F.element_at(t, i + j))
        return F.md5(F.concat(*parts))

    wins = F.when(
        n >= window, F.transform(F.sequence(F.lit(1), n - (window - 1)), win)
    ).otherwise(F.array().cast("array<string>"))
    # posexplode's pos is 0-based — the window START position.
    return tk.select(F.col(id_col), wins.alias("__wins")).select(
        id_col, F.posexplode("__wins").alias("pos", "h")
    )


def _mark_positions(
    w: DataFrame, id_col: str, min_docs: int, within_doc: bool
) -> DataFrame:
    """(id, pos) of duplicated window starts, given the window-hash
    table.

    Two-level aggregation: (h, id) counts with map-side partials
    (collapses per-partition repeats before the shuffle), then a
    per-hash rollup — same md5-keyed exchange profile, and the second
    level runs over distinct (h, id) pairs only. The join back is
    AQE-decided: ``dup`` (distinct duplicated hashes) broadcasts when
    small; at scale it becomes a shuffle join on uniformly distributed
    md5 — a boilerplate span present in ~every document is ONE hot key
    on the w side only, which AQE skew-join splits (the dup side holds
    a single row for that key)."""
    per_doc = w.groupBy("h", id_col).agg(F.count(F.lit(1)).alias("__c"))
    marks = per_doc.groupBy("h").agg(
        F.count(F.lit(1)).alias("__nd"),  # distinct docs (pre-grouped)
        F.max("__c").alias("__max_in_doc"),
    )
    cond = F.col("__nd") >= min_docs
    if within_doc:
        cond = cond | (F.col("__max_in_doc") >= 2)
    dup = marks.where(cond).select("h")
    return w.join(dup, on="h").select(id_col, "pos")


def duplicate_span_stats(
    df: DataFrame,
    window: int = DEFAULT_WINDOW,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    within_doc: bool = False,
    cache: bool = False,
) -> DataFrame:
    """Per document: n_tokens, n_dup_windows (window starts whose span
    recurs cross-document), covered_tokens (tokens inside ANY such
    span), retained_tokens. The thresholdable signal for span-level
    cleaning — every row keeps its document even with zero duplication.

    n_tokens derives from the SAME tokenize projection as the window
    hashes; ``cache=True`` persists both the tokenized frame and the
    window-hash table, so the whole stats pass tokenizes the corpus
    exactly once (vs 3× uncached — mark pass, join-back, n_tokens)."""
    tk = _tokenized(df, text_col, id_col)
    if cache:
        tk = tk.persist()
    w = _window_hashes(tk, window, id_col)
    if cache:
        w = w.persist()
    dpos = _mark_positions(w, id_col, min_docs, within_doc)
    nd = dpos.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_dup_windows"))
    cov = (
        dpos.select(
            id_col,
            F.explode(F.sequence(F.col("pos"), F.col("pos") + window - 1)).alias("__p"),
        )
        .groupBy(id_col)
        .agg(F.count_distinct("__p").alias("covered_tokens"))
    )
    base = tk.select(
        F.col(id_col), F.size("__toks").cast("long").alias("n_tokens")
    )
    out = base.join(nd, on=id_col, how="left").join(cov, on=id_col, how="left")
    return out.select(
        id_col,
        "n_tokens",
        F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
        F.coalesce("covered_tokens", F.lit(0)).cast("long").alias("covered_tokens"),
        (F.col("n_tokens") - F.coalesce("covered_tokens", F.lit(0)))
        .cast("long")
        .alias("retained_tokens"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    window: int = DEFAULT_WINDOW,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    within_doc: bool = False,
    cache: bool = False,
) -> DataFrame:
    """Rewrite each document with its cross-document duplicated spans
    REMOVED: tokens inside any duplicated window are dropped, the rest
    re-join with single spaces (tokenization is the normalized
    whitespace form, like every text operator here). Documents with no
    duplicated spans keep their full normalized token stream.

    Scale shape: tokens posexplode to (id, pos, tok) rows, covered
    positions drop via a LEFT ANTI join on (id, pos), and documents
    re-assemble with sort_array(collect_list(struct(pos, tok))) — keyed
    shuffles over token-count rows. (A per-row index-filter against a
    covered-positions array would be O(n_tokens × covered) inside one
    task for a mostly-boilerplate long document — exactly the target
    input — so the rewrite stays relational instead.)"""
    tk = _tokenized(df, text_col, id_col)
    if cache:
        tk = tk.persist()
    w = _window_hashes(tk, window, id_col)
    if cache:
        w = w.persist()
    dpos = _mark_positions(w, id_col, min_docs, within_doc)
    covered = dpos.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("pos"), F.col("pos") + window - 1)).alias("pos"),
    ).distinct()
    tok_rows = tk.select(id_col, F.posexplode("__toks").alias("pos", "__tok"))
    kept_rows = tok_rows.join(covered, on=[id_col, "pos"], how="left_anti")
    rebuilt = kept_rows.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("retained_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "__tok"))),
                lambda s: s["__tok"],
            ),
        ).alias("clean_text"),
    )
    base = tk.select(F.col(id_col), F.size("__toks").cast("long").alias("n_tokens"))
    out = base.join(rebuilt, on=id_col, how="left")
    return out.select(
        F.col(id_col),
        "n_tokens",
        F.coalesce("retained_tokens", F.lit(0)).cast("long").alias("retained_tokens"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )
