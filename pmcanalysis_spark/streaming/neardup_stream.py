"""Stateful streaming near-dup detection (the streaming twin of
``dedup.minhash_lsh_pairs`` / ``neardup_text_scalable``): dedup a continuous
crawl against everything already seen without re-reading the corpus. Ends at
CONFIRMED pairs (``streaming_neardup_confirmed``, r4) like the batch path;
``streaming_neardup_candidates`` remains for pipelines that confirm
elsewhere.

Two stages, both scale-shaped:

1. ``row_minhash_bands`` — the whole MinHash signature per document computed
   as NARROW column algebra (shingle array -> one md5 per shingle -> affine
   family -> array_min per permutation), value-identical to the batch
   ``minhash_signatures`` (tested): no explode, no shuffle, works on a
   stream because nothing aggregates across rows.
2. ``applyInPandasWithState`` keyed on (band, bucket): state is the list of
   doc ids previously seen in this bucket; each arrival emits a candidate
   pair against every existing member, then joins the membership. The state
   store partitions on the band-bucket key — uniform by construction
   (minhash values).

Scale notes: state is O(docs x bands) ids; per-bucket membership is capped
at ``max_bucket_members`` — the streaming analog of the batch mega-bucket
guard: a boilerplate bucket collecting millions of docs would otherwise emit
quadratic candidate pairs forever, and members beyond the cap are near-dups
of an already-represented cluster (they still PAIR against the capped
members, so they are still detected — they just stop growing the clique).
A pair colliding in several bands is emitted once per band; the downstream
exact-Jaccard confirm is idempotent, or distinct per micro-batch. TTL
(``GroupStateTimeout.ProcessingTimeTimeout``) bounds state for endless
crawls, exactly as in ``dedup_stream``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..operators.dedup import MERSENNE61, gram_index

CANDIDATES = StructType(
    [
        StructField("a_id", StringType(), False),
        StructField("b_id", StringType(), False),
        StructField("band", IntegerType(), False),
    ]
)

_STATE = StructType([StructField("members", ArrayType(StringType()), True)])

CONFIRMED = StructType(
    [
        StructField("a_id", StringType(), False),
        StructField("b_id", StringType(), False),
        StructField("jaccard", DoubleType(), False),
        StructField("band", IntegerType(), False),
    ]
)

_CONFIRM_STATE = StructType(
    [
        StructField("members", ArrayType(StringType()), True),
        # one packed uint64 little-endian blob per member: the doc's distinct
        # shingle-hash set (8 bytes/shingle — the compact store the confirm
        # joins against, kept inside the state backend instead of a side
        # parquet table)
        StructField("shingle_sets", ArrayType(BinaryType()), True),
    ]
)


def row_minhash_bands(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    include_shingles: bool = False,
) -> DataFrame:
    """(doc_id, band, bucket) rows with the signature computed per-row:
    same shingles (distinct word n-grams), same md5-derived affine family
    and same bands as ``dedup.minhash_signatures`` /
    ``minhash_lsh_pairs`` (bucket as the comma-joined band values), but with the groupBy(doc) replaced by
    array_min over the in-row shingle array — narrow, stream-safe.
    Docs with no full shingle (shorter than n tokens) emit nothing,
    matching the batch operator. ``include_shingles`` adds a ``shingles``
    column (sorted distinct 60-bit shingle hashes) for the downstream
    exact-Jaccard confirm."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    toks = F.split(F.col(text_col), " ")
    grams = F.array_distinct(
        F.transform(
            gram_index(toks, n), lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
        )
    )
    # ONE md5 per shingle: precompute (h1, h2) structs, then each
    # permutation is an affine fold over the array
    hs = F.transform(
        grams,
        lambda g: F.struct(
            F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long").alias("h1"),
            F.pmod(
                F.conv(F.substring(F.md5(g), 16, 15), 16, 10).cast("long"),
                F.lit(1 << 57).cast("long"),
            ).alias("h2"),
        ),
    )
    d = df.select(
        F.col(id_col).alias("doc_id"), hs.alias("_hs")
    ).filter(F.size(F.col("_hs")) > 0)

    # NB: the permutation index must close over a ONE-argument lambda via a
    # factory — `lambda s, i=i:` has two parameters, and PySpark's HOF
    # signature inspection binds the second one to the ARRAY ELEMENT INDEX,
    # silently replacing the intended constant (all signatures collapse to
    # permutation-by-position; caught by the batch-parity test).
    def _perm(i: int):
        return lambda s: F.pmod(
            s["h1"] + F.lit(i) * s["h2"], F.lit(MERSENNE61).cast("long")
        )

    sigs = [
        F.array_min(F.transform(F.col("_hs"), _perm(i))) for i in range(num_hashes)
    ]
    buckets = F.array(
        *[
            F.concat_ws(
                ",",
                *[
                    sigs[b * rows_per_band + r].cast("string")
                    for r in range(rows_per_band)
                ],
            )
            for b in range(bands)
        ]
    )
    if include_shingles:
        sh = F.array_sort(
            F.array_distinct(F.transform(F.col("_hs"), lambda s: s["h1"]))
        )
        return d.select(
            "doc_id",
            sh.alias("shingles"),
            F.posexplode(buckets).alias("band", "bucket"),
        )
    return d.select(
        "doc_id", F.posexplode(buckets).alias("band", "bucket")
    )


def streaming_neardup_candidates(
    pages_stream: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_members: int = 256,
) -> DataFrame:
    """pages stream -> (a_id, b_id, band) candidate near-dup pairs, each new
    document paired against every document EVER seen in a shared band-bucket
    (across all micro-batches). a_id < b_id; in-batch arrivals pair too
    (processed in sorted id order, deterministically)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    banded = row_minhash_bands(pages_stream, id_col, text_col, n, num_hashes, bands)

    def pairs(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        band = int(key[0])
        members: list[str] = list(state.get[0]) if state.exists else []
        known = set(members)
        out_a: list[str] = []
        out_b: list[str] = []
        incoming: set[str] = set()
        for pdf in pdfs:
            incoming.update(pdf["doc_id"])
        for d in sorted(incoming):
            if d in known:
                continue  # re-crawl of an already-registered doc
            for m in members:
                lo, hi = (d, m) if d < m else (m, d)
                out_a.append(lo)
                out_b.append(hi)
            if len(members) < max_bucket_members:
                members.append(d)
                known.add(d)
        state.update((members,))
        if out_a:
            yield pd.DataFrame(
                {
                    "a_id": pd.Series(out_a, dtype="object"),
                    "b_id": pd.Series(out_b, dtype="object"),
                    "band": pd.Series([band] * len(out_a), dtype="int32"),
                }
            )

    return banded.groupBy("band", "bucket").applyInPandasWithState(
        pairs,
        outputStructType=CANDIDATES,
        stateStructType=_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_neardup_confirmed(
    pages_stream: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket_members: int = 256,
) -> DataFrame:
    """pages stream -> CONFIRMED near-dup pairs (a_id, b_id, jaccard, band):
    the streaming path now ends where the batch twin
    (``dedup.neardup_text_scalable``) ends, not at raw candidates.

    The exact-Jaccard confirm happens AT candidate time inside the same
    stateful stage: bucket state keeps, per member, the doc's distinct
    shingle-hash set (packed uint64 blob, 8 bytes/shingle — the "maintained
    shingle store" lives in the state backend, partitioned with the bucket
    key, instead of a side table a foreachBatch would have to re-read and
    race against). A new arrival carries its own shingle set in-row
    (``include_shingles``), intersects against each member, and emits only
    pairs with jaccard >= threshold. Set sizes use 60-bit md5-prefix hashes
    rather than shingle strings, so a within-doc hash collision could in
    principle shrink a set by one — at 2^-60 per shingle pair this is
    noise-proof in practice, and the batch-parity test holds exactly.

    Same mega-bucket cap semantics as the candidate stage: members beyond
    ``max_bucket_members`` still confirm against the stored members but stop
    growing the state. A pair colliding in several bands is emitted once per
    band with the identical jaccard — downstream dedup is a trivial
    drop-duplicates on (a_id, b_id).

    Batch parity (tested): distinct confirmed pairs over any micro-batch
    split == ``neardup_text_scalable(union_corpus, max_shingle_df=None)``
    with the same n/num_hashes/bands/threshold. (The batch default's
    corpus-wide hot-shingle bound is a batch-only statistic — a stream
    cannot know a future document frequency; strip known boilerplate
    upstream instead.)
    """
    import numpy as np
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    banded = row_minhash_bands(
        pages_stream, id_col, text_col, n, num_hashes, bands,
        include_shingles=True,
    )

    def confirm(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        band = int(key[0])
        if state.exists:
            members = list(state.get[0])
            blobs = list(state.get[1])
        else:
            members, blobs = [], []
        sets = {
            m: frozenset(np.frombuffer(b, dtype="<u8").tolist())
            for m, b in zip(members, blobs)
        }
        known = set(members)
        out_a: list[str] = []
        out_b: list[str] = []
        out_j: list[float] = []
        incoming: dict[str, frozenset] = {}
        for pdf in pdfs:
            for d, sh in zip(pdf["doc_id"], pdf["shingles"]):
                if d not in incoming:
                    incoming[d] = frozenset(int(x) for x in sh)
        for d in sorted(incoming):
            if d in known:
                continue  # re-crawl of an already-registered doc
            sd = incoming[d]
            for m in members:
                sm = sets[m]
                n_inter = len(sd & sm)
                union = len(sd) + len(sm) - n_inter
                jac = n_inter / union if union else 0.0
                if jac >= threshold:
                    lo, hi = (d, m) if d < m else (m, d)
                    out_a.append(lo)
                    out_b.append(hi)
                    out_j.append(jac)
            if len(members) < max_bucket_members:
                members.append(d)
                sets[d] = sd
                blobs.append(
                    np.asarray(sorted(sd), dtype="<u8").tobytes()
                )
                known.add(d)
        state.update((members, blobs))
        if out_a:
            yield pd.DataFrame(
                {
                    "a_id": pd.Series(out_a, dtype="object"),
                    "b_id": pd.Series(out_b, dtype="object"),
                    "jaccard": pd.Series(out_j, dtype="float64"),
                    "band": pd.Series([band] * len(out_a), dtype="int32"),
                }
            )

    return banded.groupBy("band", "bucket").applyInPandasWithState(
        confirm,
        outputStructType=CONFIRMED,
        stateStructType=_CONFIRM_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
