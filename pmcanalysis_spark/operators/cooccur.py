"""Document-level co-occurrence — the heart of the engine (SURVEY.md J4/A1-A3).

The reference builds per-class OpenBitSets over dense doc indices and takes
pairwise ``intersectionCount`` in a nested loop
(/root/reference/FindDiseasePhenotypes2.groovy:196-231). The Spark-native
equivalent is a self-equi-join of the distinct ``doc_terms`` table on
``doc_id`` followed by a two-level hash aggregate — Catalyst's partial
(map-side) aggregation plays the role of the bitset kernel, and only nonzero
pairs ever materialize (the sparse-matrix property comes free).

Scale notes (10^12-doc design):
- ``doc_terms`` is distinct-per-(term, doc) so the join fan-out per doc is
  bounded by the number of *distinct* terms in the doc, not mention count.
- Family prefix filters are applied *before* the join (predicate pushdown is
  also automatic, but explicit filters keep the plan obvious) — J5.
- Head terms ("disease"-like labels that hit a large share of docs) make the
  (a_id, b_id) aggregation skewed. The shuffle key of the join itself is
  ``doc_id`` (well distributed); for the pair aggregation we rely on
  partial aggregation + AQE skew handling, and expose an explicit
  ``salt_buckets`` two-phase aggregate for the worst head-pair skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def doc_terms(mentions: DataFrame) -> DataFrame:
    """mentions -> distinct (term_id, doc_id).

    Set-insert semantics of the reference (``id2pmid[k].add(pmid)``,
    FindDiseasePhenotypes2.groovy:163-169): a doc counts once per term no
    matter how many mentions.
    """
    return mentions.select("term_id", F.col("url").alias("doc_id")).distinct()


def close_over_hierarchy(
    dt: DataFrame, hierarchy: DataFrame, distinct: bool = True
) -> DataFrame:
    """Subclass closure: ancestor's doc set ∪= descendant's doc set (J3/U2).

    ``hierarchy(term_id, ancestor_id)`` is the transitive closure (small —
    ontologies are ~1e5 edges), so one broadcast join + union + distinct
    replaces the reference's per-class set-union loop
    (FindDiseasePhenotypes2.groovy:172-183). Distinct, not sum: doc sets
    deduplicate across descendants. ``distinct=False`` skips that exchange
    for consumers that re-deduplicate anyway (a downstream
    COUNT(DISTINCT doc_id) — r6): values are identical, one full shuffle
    of the unioned table cheaper.
    """
    inherited = (
        dt.join(F.broadcast(hierarchy), "term_id")
        .select(F.col("ancestor_id").alias("term_id"), "doc_id")
    )
    out = dt.unionByName(inherited)
    return out.distinct() if distinct else out


def term_stats(dt: DataFrame) -> DataFrame:
    """Per-term doc frequency: na = |docs(term)| (A1)."""
    return dt.groupBy("term_id").agg(F.countDistinct("doc_id").alias("n"))


def corpus_size_df(dt: DataFrame) -> DataFrame:
    """|∪ docs(term)| — distinct docs mentioning any term (A3), exact to
    match the reference — as a 1-row DataFrame (column ``t``) for use as a
    broadcast scalar inside the scoring job, not a driver-blocking count."""
    return dt.agg(F.countDistinct("doc_id").alias("t"))


def pair_counts(
    dt: DataFrame,
    a_prefix: str | None = None,
    b_prefix: "str | tuple[str, ...] | None" = None,
    salt_buckets: int = 0,
) -> DataFrame:
    """Self-join on doc_id -> (a_id, b_id, nab) with nab > 0 only (J4/A2/P5).

    ``a_prefix``/``b_prefix`` restrict the two sides (J5: e.g. "DOID:" ×
    "HP:") so the theta-pairing of the reference becomes a plain equi-join.
    ``b_prefix`` may be a tuple of prefixes — ONE join with an OR filter
    covers every b family (two separate joins would shuffle dt twice).

    ``salt_buckets > 0`` enables an explicit two-phase aggregate for skewed
    head pairs: groupBy(a, b, salt) partial -> groupBy(a, b) final. The salt
    is derived from doc_id so it costs no extra shuffle of the join itself.
    """

    def _prefix_filter(col, prefixes):
        if isinstance(prefixes, str):
            prefixes = (prefixes,)
        cond = col.startswith(prefixes[0])
        for p in prefixes[1:]:
            cond = cond | col.startswith(p)
        return cond

    a = dt
    b = dt
    if a_prefix:
        a = a.filter(_prefix_filter(F.col("term_id"), a_prefix))
    if b_prefix:
        b = b.filter(_prefix_filter(F.col("term_id"), b_prefix))
    a = a.select(F.col("term_id").alias("a_id"), "doc_id")
    b = b.select(F.col("term_id").alias("b_id"), "doc_id")
    joined = a.join(b, "doc_id")
    if a_prefix is None and b_prefix is None:
        # symmetric self-pairing: keep canonical orientation, drop self-pairs
        joined = joined.filter(F.col("a_id") < F.col("b_id"))
    if salt_buckets > 0:
        salted = joined.withColumn("_salt", F.pmod(F.xxhash64("doc_id"), F.lit(salt_buckets)))
        partial = salted.groupBy("a_id", "b_id", "_salt").agg(F.count("*").alias("_c"))
        return partial.groupBy("a_id", "b_id").agg(F.sum("_c").alias("nab"))
    return joined.groupBy("a_id", "b_id").agg(F.count("*").alias("nab"))


def scored_pairs(
    pairs: DataFrame,
    stats: DataFrame,
    total: "int | DataFrame",
    pred: str = "associated-with",
    round_to: int | None = None,
) -> DataFrame:
    """Decorate pairs with na/nb and the five corpus-statistics scores
    (F1-F5), emitting the triples table (subj, pred, obj, scores...).

    ``stats`` is tiny (one row per ontology term) -> broadcast joins.
    ``total`` may be an int (pre-computed) or a 1-row DataFrame with column
    ``t`` — the latter folds the corpus-size aggregate into this same job as
    a broadcast scalar instead of a separate driver-blocking count.
    All score math is JVM-side Column algebra (whole-stage codegen).
    """
    from ..functions.scores import score_columns

    na = F.broadcast(stats.select(F.col("term_id").alias("a_id"), F.col("n").alias("na")))
    nb = F.broadcast(stats.select(F.col("term_id").alias("b_id"), F.col("n").alias("nb")))
    df = pairs.join(na, "a_id").join(nb, "b_id")
    if isinstance(total, DataFrame):
        df = df.crossJoin(F.broadcast(total))
        tot = F.col("t").cast("double")
    else:
        tot = F.lit(float(total))
    x, y, xy = F.col("na").cast("double"), F.col("nb").cast("double"), F.col("nab").cast("double")
    scores = score_columns(tot, x, y, xy)
    if round_to is not None:
        scores = {k: F.round(v, round_to) for k, v in scores.items()}
    return df.select(
        F.col("a_id").alias("subj"),
        F.lit(pred).alias("pred"),
        F.col("b_id").alias("obj"),
        scores["tscore"].alias("tscore"),
        scores["zscore"].alias("zscore"),
        scores["lmi"].alias("lmi"),
        scores["npmi"].alias("npmi"),
        scores["lgl"].alias("lgl"),
        F.col("nab").cast("long").alias("nab"),
        F.col("na").cast("long").alias("na"),
        F.col("nb").cast("long").alias("nb"),
    )
