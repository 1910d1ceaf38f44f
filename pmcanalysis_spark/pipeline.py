"""End-to-end KG construction: web_pages -> triples (SURVEY.md §3.1, §7.2).

Stage boundaries (each an exchange in the physical plan):
  scan(web_pages) -> extract UDF -> NER UDF      [narrow, Arrow-batched]
  -> distinct doc_terms                          [shuffle on (term, doc)]
  -> hierarchy closure                           [broadcast join, no shuffle]
  -> self-join on doc_id + pair agg              [shuffle doc_id, then (a,b)]
  -> broadcast na/nb + score exprs               [narrow]

Equivalent of /root/reference/FindDiseasePhenotypes2.groovy end-to-end, with
the documented improvements: no 32768-hit truncation (W5), exact doc sets,
NaN-filter fixed (P6), and all-candidate entity links preserved (J1).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .extract import extract_text_udf
from .nlp import MINLENGTH, detect_mentions
from .operators.cooccur import (
    close_over_hierarchy,
    corpus_size_df,
    doc_terms,
    pair_counts,
    scored_pairs,
    term_stats,
)


@dataclass
class PipelineConfig:
    lang: str | None = "en"
    a_prefix: str = "DOID:"
    b_prefixes: tuple[str, ...] = ("HP:", "MP:")
    pred: str = "has-phenotype"
    min_name_len: int = MINLENGTH


def ingest(web_pages: DataFrame, range_partitions: int | None = None) -> DataFrame:
    """Ingest normalization (SURVEY.md §7.2 step 7): optional explicit
    range partitioning on url so (a) every downstream partition covers a
    contiguous url range — the lineage rows' (min_key, max_key) become
    disjoint, resumable spans — and (b) pages from one site co-locate
    (compresses better, and per-site skew is visible per partition).
    Skip when the Iceberg table is already sorted/partitioned on url."""
    if range_partitions:
        return web_pages.repartitionByRange(range_partitions, F.col("url"))
    return web_pages


def extract_stage(web_pages: DataFrame, lang: str | None = "en") -> DataFrame:
    """web_pages -> extracted(url, text). Column pruning means the parquet
    scan reads only (url, html, lang) here — ``text``/``warc_ts`` never leave
    storage unless asked for."""
    df = web_pages
    if lang is not None:
        df = df.filter(F.col("lang") == lang)
    return df.select("url", extract_text_udf(F.col("html")).alias("text"))


def build_mentions(
    web_pages: DataFrame,
    lexicon_entries: list[tuple[str, str]],
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    cfg = cfg or PipelineConfig()
    extracted = extract_stage(web_pages, cfg.lang)
    return detect_mentions(extracted, lexicon_entries, cfg.min_name_len)


def ancestor_map(hierarchy: DataFrame | None) -> dict[str, tuple[str, ...]] | None:
    """Collect the (small) closure table to ``{term_id: sorted ancestor
    ids}``, the form ``detect_doc_terms(ancestors=)`` broadcasts; None
    without a hierarchy."""
    if hierarchy is None:
        return None
    anc: dict[str, set[str]] = {}
    for r in hierarchy.select("term_id", "ancestor_id").collect():
        anc.setdefault(r["term_id"], set()).add(r["ancestor_id"])
    return {k: tuple(sorted(v)) for k, v in anc.items()}


def build_triples(
    web_pages: DataFrame,
    lexicon_entries: list[tuple[str, str]],
    hierarchy: DataFrame | None = None,
    cfg: PipelineConfig | None = None,
    sentence_grain: bool = False,
) -> DataFrame:
    """The flagship query. Returns triples(subj, pred, obj, 5 scores, nab, na, nb).

    ``sentence_grain=False`` (default) takes the fused single-UDF hot path
    (detect_doc_terms) — document-level semantics identical to the two-stage
    extract->mentions->distinct path, half the python-process pressure.
    Set True to route through the full mention table (provenance spans).
    """
    from .nlp import detect_doc_terms

    cfg = cfg or PipelineConfig()
    if sentence_grain:
        mentions = build_mentions(web_pages, lexicon_entries, cfg)
        dt = doc_terms(mentions)
        if hierarchy is not None:
            # persist before the closure union: both branches reference dt
            # and the NER scan must not run twice
            dt = close_over_hierarchy(dt.persist(), hierarchy)
    else:
        # hierarchy closure folds into the scan as a per-doc ancestor
        # expansion (the closure table is small: collect once, broadcast)
        # already distinct: the UDF dedupes per doc and urls are unique in
        # the input (input_hint key) — no global distinct shuffle needed
        dt = detect_doc_terms(
            web_pages,
            lexicon_entries,
            lang=cfg.lang,
            min_name_len=cfg.min_name_len,
            ancestors=ancestor_map(hierarchy),
        )
    return triples_from_doc_terms(dt, cfg=cfg, assume_distinct=True)


def triples_from_doc_terms(
    dt: DataFrame,
    cfg: PipelineConfig | None = None,
    assume_distinct: bool = False,
) -> DataFrame:
    """doc_terms(term_id, doc_id) -> scored triples: the back half of the
    flagship, exposed so callers holding a MATERIALIZED doc_terms table
    (e.g. the incremental streaming accumulator) can re-score without
    re-running NER. ``assume_distinct=True`` skips the dedup shuffle when
    the input is already per-doc distinct (the fused UDF's contract).
    """
    cfg = cfg or PipelineConfig()
    if not assume_distinct:
        # accumulated tables may carry re-crawl duplicates across appends
        dt = dt.select("term_id", "doc_id").distinct()
    # 64-bit surrogate doc keys: string urls off the shuffle path (collision
    # probability ~n^2/2^65; at true 10^12-doc scale swap for the raw url or
    # a 128-bit key — flagged in LINEAGE docs)
    dt = dt.select("term_id", F.xxhash64("doc_id").alias("doc_id"))
    # one NER pass feeds every downstream consumer (stats, both pair
    # families, corpus size): cache the small distinct set, materialize once
    dt = dt.persist()
    dt.count()
    total_df = corpus_size_df(dt)
    stats = term_stats(dt)
    # all b families in ONE self-join (OR of prefixes) — one shuffle of dt,
    # not one per family; corpus size rides along as a broadcast scalar so
    # the whole score stage is ONE job; caller materializes (write/count)
    pairs = pair_counts(dt, a_prefix=cfg.a_prefix, b_prefix=cfg.b_prefixes)
    return scored_pairs(pairs, stats, total_df, pred=cfg.pred)
