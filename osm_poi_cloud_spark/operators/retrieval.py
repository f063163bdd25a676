"""Inverted-index construction and BM25 ranked retrieval.

The search-side counterpart of the corpus-statistics passes in
``functions/text_analysis.py``: build term->document posting lists
(the word-count shuffle shape — Catalyst's partial aggregation
map-side-combines, so the shuffle carries at most |distinct (term,
doc) per partition| rows), then score a literal query with BM25
(Robertson & Spärck Jones / Okapi; the k1/b saturation form).

Determinism / oracle design: the per-(term, doc) BM25 contribution is
an IEEE expression chain of exact-integer inputs (tf, dl, df, N,
sum_dl) combined with literal constants — division and multiplication
are correctly-rounded and engine-independent, so each contribution is
bit-identical in Spark and DuckDB. Contributions are quantized to ppm
integers BEFORE the per-document sum (the bigram-LM pattern:
float-reduction-order-free), so scores hash-match regardless of
partial-aggregation order. IDF uses the division-only Robertson
surrogate ``(N - df + 0.5) / (df + 0.5)`` — no logarithm, monotone in
the same direction, cross-engine exact (ln would not be).

Scale shape: postings build is one explode + one count shuffle; corpus
stats (N, avgdl) ride a broadcast 1-row cross-join (zero driver
actions); the query side is a broadcast join against |query| terms;
top-k is TakeOrderedAndProject. Nothing grows with corpus size except
the postings shuffle, which is the canonical word-count shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frames import local_frame


def _tokens(text_col: str):
    """Lowercased alnum tokens (the DSIR/importance convention)."""
    return F.filter(F.split(F.lower(F.trim(F.col(text_col))), "[^a-z0-9]+"),
                    lambda t: t != "")


def build_inverted_index(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Posting rows ``(term, doc_id, tf)`` — one explode + one count
    shuffle (map-side combined). Sort/bucket by term downstream to
    co-locate each term's posting list for index serving."""
    return (
        docs.select(F.col(id_col).alias("doc_id"),
                    F.explode(_tokens(text_col)).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def doc_lengths(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """``(doc_id, dl)`` token counts — map-only (size of the token
    array, no explode)."""
    return docs.select(F.col(id_col).alias("doc_id"),
                       F.size(_tokens(text_col)).cast("long").alias("dl"))


def bm25_scores(postings: DataFrame, doclens: DataFrame,
                query_terms: list[str], k1: float = 1.2,
                b: float = 0.75) -> DataFrame:
    """Per-document BM25 scores for ``query_terms``:
    ``(doc_id, n_terms, score_ppm)`` where score_ppm is the sum of
    per-term contributions each floored to ppm integers (order-free).

    Plan: df per query term from a broadcast semi-filtered aggregate,
    corpus stats as a broadcast 1-row cross-join, one hash join of the
    query postings against doc lengths, integer sum per doc.
    """
    if not query_terms:
        raise ValueError("need at least one query term")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError("query terms must be distinct")
    spark = postings.sparkSession
    qdf = local_frame(spark, [(t,) for t in query_terms], "term string")

    # lazy localCheckpoints: doclens feeds the corpus-stats aggregate
    # AND the scoring join; the query postings feed the df aggregate
    # AND the scoring join — each otherwise re-ran its full upstream
    # pass (for qpost that upstream is the whole postings shuffle).
    doclens = doclens.localCheckpoint(eager=False)
    stats = doclens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"))

    qpost = postings.join(F.broadcast(qdf), "term") \
        .localCheckpoint(eager=False)
    dfreq = qpost.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    scored = (
        qpost
        .join(F.broadcast(dfreq), "term")
        .join(doclens, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    # exact-integer inputs -> literal-constant IEEE chain; keep this
    # association order in sync with the contract oracle text
    n_d = F.col("n_docs").cast("double")
    dfd = F.col("df").cast("double")
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n_d
    idf = (n_d - dfd + F.lit(0.5)) / (dfd + F.lit(0.5))
    tfc = (tfd * F.lit(k1 + 1.0)) / (
        tfd + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (dld / avgdl)))
    contrib = F.floor(F.lit(1e6) * idf * tfc).cast("long")
    return (
        scored.withColumn("_ppm", contrib)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_terms"),
             F.sum("_ppm").alias("score_ppm"))
    )


def bm25_topk(docs: DataFrame, query_terms: list[str], k: int = 100,
              id_col: str = "doc_id", text_col: str = "text",
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Convenience end-to-end: index + score + deterministic top-k
    (score desc, doc_id asc tie-break; TakeOrderedAndProject)."""
    if k < 1:
        raise ValueError(f"need k >= 1, got {k}")
    # project the postings to the query terms BEFORE the count shuffle:
    # bm25_scores only ever consumes postings for the query terms, so
    # filtering the exploded tokens first shrinks the groupBy exchange
    # from |corpus vocabulary| to |query-term hits| (identical rows —
    # the inner join on term is exactly this filter). A pre-built full
    # index still goes through bm25_scores unchanged.
    qarr = F.array(*[F.lit(t) for t in query_terms])
    postings = (
        docs.select(F.col(id_col).alias("doc_id"),
                    F.explode(F.filter(
                        _tokens(text_col),
                        lambda t: F.array_contains(qarr, t))).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dls = doc_lengths(docs, id_col, text_col)
    return (bm25_scores(postings, dls, query_terms, k1, b)
            .orderBy(F.desc("score_ppm"), F.asc("doc_id")).limit(k))


def build_positional_index(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Positional posting rows ``(term, doc_id, pos)`` (0-based token
    index, same tokenization as the BM25 index). One posexplode, no
    shuffle of its own; persist bucketed/sorted by ``term`` so a
    phrase query's per-term slices arrive partition-pruned."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(_tokens(text_col)).alias("pos", "term"))


def _phrase_terms(phrase) -> list[str]:
    import re

    terms = (re.split("[^a-z0-9]+", phrase.lower().strip())
             if isinstance(phrase, str) else [str(t).lower() for t in phrase])
    terms = [t for t in terms if t]
    if not terms:
        raise ValueError("phrase must contain at least one token")
    return terms


def phrase_occurrences(docs: DataFrame, phrase, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Exact-phrase match per document — the MAP-ONLY batch form:
    ``(doc_id, n_occurrences, first_pos)`` for docs containing the
    token sequence (0-based ``first_pos``; overlapping occurrences all
    count).

    The whole predicate is one codegen'd expression per row (tokenize
    once, slide a window with ``filter`` over an index ``sequence``,
    compare ``slice`` to the literal phrase array) — no explode, no
    shuffle, no Python; filters/pruning push into the scan. This is
    the right plan when the corpus is scanned anyway (curation-time
    tagging at 100 TB); ``phrase_search_indexed`` is the serving-time
    plan over a prebuilt positional index (parity between the two is
    test-pinned)."""
    terms = _phrase_terms(phrase)
    n = len(terms)
    lit = F.array(*[F.lit(t) for t in terms])
    toks = _tokens(text_col)
    hits = F.when(
        F.size("_tk") >= n,
        F.filter(F.sequence(F.lit(0), F.size("_tk") - n),
                 lambda j: F.slice(F.col("_tk"), j + 1, n) == lit),
    ).otherwise(F.array().cast("array<int>"))
    return (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("_tk"))
        .select("doc_id", hits.alias("_hits"))
        .filter(F.size("_hits") > 0)
        .select(
            "doc_id",
            F.size("_hits").cast("long").alias("n_occurrences"),
            F.element_at("_hits", 1).cast("long").alias("first_pos"),
        )
    )


def phrase_search_indexed(positional: DataFrame, phrase) -> DataFrame:
    """Exact-phrase match from a PREBUILT positional index — the
    serving-time plan: classic positional intersection, anchored on
    the first term's postings and narrowed by one equi-join per
    remaining term on ``(doc_id, pos + i)``.

    Every join side is a single term's postings (an IN-filter that
    prunes partitions/buckets when the index is stored by term), so
    cost tracks the RAREST term's selectivity, not the corpus. Output
    is identical to ``phrase_occurrences`` run over the raw docs."""
    terms = _phrase_terms(phrase)
    anchor = (positional.filter(F.col("term") == terms[0])
              .select("doc_id", F.col("pos").alias("_p")))
    for i, t in enumerate(terms[1:], start=1):
        nxt = positional.filter(F.col("term") == t).select(
            "doc_id", (F.col("pos") - i).alias("_p"))
        anchor = anchor.join(nxt, ["doc_id", "_p"], "left_semi")
    return (
        anchor.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_occurrences"),
             F.min("_p").cast("long").alias("first_pos"))
    )
