"""The workloads: timed pipeline runs, traced runs, and output checks.

A timed run makes the calls ``scripts/run_pipeline.py`` makes for that stage
set and ends in ``lineage.materialize_stage`` (parquet plus a committed
manifest), so every output column is computed.

A traced run is the same ``run_timed``, with the program's public functions
listed in ``TRACED`` replaced, in the module namespaces their callers look
them up in, by wrappers that open a span around each call and force a
DataFrame result before returning it. The spans therefore nest as the
program's own call tree does, and a change to that composition shows in the
traced run without any change here. Layers a workload bypasses are then
called as probes: ``run_timed`` of the other workload on empty inputs,
``extract_stage`` (not on the fused timed path) and ``try_resume`` of each
committed stage. Their per-layer times then read the cost of the call itself
(plan building plus any job the function runs eagerly) instead of a constant
zero.
"""

from __future__ import annotations

import json
import math
import os

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

import inputs
from pmcanalysis_spark import canonicalize, lineage, nlp, pipeline
from pmcanalysis_spark.operators import dedup
from pmcanalysis_spark.schemas import HIERARCHY, WEB_PAGES
from spans import span_name, traced_functions

WORKLOADS = ("web_ner", "entity_canon")
CFG = pipeline.PipelineConfig(lang="en", a_prefix=inputs.A_PREFIX, b_prefixes=inputs.B_PREFIXES,
                              pred=inputs.PRED)
NEARDUP_THRESHOLD = 0.8  # run_pipeline.py --neardup-threshold default
LEX_SCHEMA = "name string, term_id string, kind string"
AUTHORS_SCHEMA = (
    "doc_id string, author_key string, coauthors array<string>, mesh array<string>, "
    "title_tokens array<string>, affiliation_tokens array<string>"
)
DOCS_SCHEMA = "url string, text string, lang string"

# (module, functions) a traced run wraps in spans
TRACED = (
    (pipeline, ("build_triples", "triples_from_doc_terms", "term_stats", "pair_counts", "scored_pairs",
                "extract_stage")),
    (nlp, ("detect_doc_terms",)),
    (canonicalize, ("canonicalize_terms", "rewrite_triples_canonical", "mega_key_stats",
                    "canonicalize_authors", "similarity_edges", "pair_scores", "connected_components")),
    (dedup, ("neardup_text_clusters", "neardup_text_scalable", "minhash_lsh_pairs")),
    (lineage, ("materialize_stage", "try_resume")),
)


def open_inputs(spark: SparkSession, workload: str, input_dir: str | None, first_file_only: bool = False) -> dict:
    """Open the cached input tables (part of set-up). ``first_file_only``
    opens one parquet file of each large table, for warm-up runs; no
    ``input_dir`` gives empty tables of the same schemas, for probes."""
    def read(name, schema):
        if input_dir is None:
            return spark.createDataFrame([], schema)
        path = os.path.join(input_dir, name)
        return spark.read.parquet(os.path.join(path, "part-000.parquet") if first_file_only else path)

    if workload == "web_ner":
        lex = pq.read_table(os.path.join(input_dir, "lexicon")).to_pylist() if input_dir else []
        return {"pages": read("pages", WEB_PAGES), "hierarchy": read("hierarchy", HIERARCHY),
                "lexicon": [(r["name"], r["term_id"]) for r in lex]}
    return {"authors": read("authors", AUTHORS_SCHEMA), "docs": read("docs", DOCS_SCHEMA)}


def _group_cap() -> int:
    return inputs.SIZES["entity_canon"]["max_group"]


# ------------------------------------------------------------ timed runs

def run_timed(spark: SparkSession, workload: str, inp: dict, out_dir: str, fp: str) -> None:
    """One untraced pipeline run, from the first pipeline call to the last
    committed stage manifest."""
    if workload == "web_ner":
        # run_pipeline.py batch path: triples -> entities -> triples_canonical
        triples = pipeline.build_triples(inp["pages"], inp["lexicon"], hierarchy=inp["hierarchy"], cfg=CFG)
        out, _ = lineage.materialize_stage(triples, "triples", out_dir, key_col="subj", fingerprint=fp)
        lex_df = spark.createDataFrame([(n, t, "name") for n, t in inp["lexicon"]], LEX_SCHEMA)
        ents, _ = lineage.materialize_stage(canonicalize.canonicalize_terms(lex_df), "entities", out_dir,
                                            key_col="term_id", fingerprint=fp)
        canon = canonicalize.rewrite_triples_canonical(
            out.select("subj", "pred", "obj", "nab", "na", "nb", "npmi"), ents)
        lineage.materialize_stage(canon, "triples_canonical", out_dir, key_col="subj", fingerprint=fp)
    else:
        # run_pipeline.py --neardup and --authors stages
        clusters = dedup.neardup_text_clusters(inp["docs"], id_col="url", text_col="text",
                                               threshold=NEARDUP_THRESHOLD)
        lineage.materialize_stage(clusters, "neardup_clusters", out_dir, key_col="doc_id",
                                  fingerprint=fp + "|neardup")
        cap = _group_cap()
        lineage.materialize_stage(canonicalize.mega_key_stats(inp["authors"], max_group_size=cap),
                                  "author_mega_keys", out_dir, key_col="author_key",
                                  fingerprint=fp + f"|authors|{cap}")
        lineage.materialize_stage(canonicalize.canonicalize_authors(inp["authors"], max_group_size=cap),
                                  "author_entities", out_dir, key_col="author_key",
                                  fingerprint=fp + f"|authors|{cap}")


# ----------------------------------------------------------- traced runs

def run_traced(spark: SparkSession, workload: str, inp: dict, out_dir: str, fp: str, tracer, counts) -> None:
    """``run_timed`` in span ``workload.run_timed``, then the probes, with
    the functions of ``TRACED`` wrapped. Each wrapper forces a DataFrame
    result (persist + count: the count builds every column of the cache)
    unless the callee returned one that is already persisted, and records
    in its span's figures the rows forced, the cache bytes added, and the
    ``count()`` calls the program made inside it."""
    committed: list[tuple[str, str]] = []  # (stage, fingerprint)
    doc_terms: list[tuple] = []  # (term_stats span, its input)

    def wrap(fn):
        name = span_name(fn)

        def call(*args, **kwargs):
            with tracer.span(name) as span:
                cached, program = _cached_bytes(spark), counts.program
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame) and not out.is_cached:
                    out = out.persist()
                    span.figures["rows"] = out.count()
                span.figures["cached_bytes"] = _cached_bytes(spark) - cached
                span.figures["program_counts"] = counts.program - program
            if isinstance(out, tuple) and isinstance(out[-1], lineage.StageResult) and not span.probe:
                committed.append((out[-1].stage, out[-1].input_fingerprint))
            if name == "cooccur.term_stats":
                doc_terms.append((span, args[0]))
            return out

        return call

    other = next(w for w in WORKLOADS if w != workload)
    with traced_functions(TRACED, wrap):
        with tracer.span("workload.run_timed"):
            run_timed(spark, workload, inp, out_dir, fp)
        with tracer.span("probe", probe=True):
            pages = inp["pages"] if "pages" in inp else spark.createDataFrame([], WEB_PAGES)
            pipeline.extract_stage(pages, CFG.lang)
            run_timed(spark, other, open_inputs(spark, other, None), out_dir + "-probe", fp)
            for stage, sfp in committed:
                if lineage.try_resume(spark, out_dir, stage, sfp) is None:
                    raise RuntimeError(f"committed stage {stage} did not resume")
    with tracer.span("trace.bookkeeping", probe=True):
        for span, dt in doc_terms:
            span.figures["input_rows"] = dt.count()
    spark.catalog.clearCache()


def _cached_bytes(spark: SparkSession) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


# ---------------------------------------------------------------- checks

def _undefined(v) -> bool:
    """NULL, NaN and infinities all mean 'undefined': Spark's log and
    division give NULL where the Python oracle gives NaN or -inf."""
    return v is None or v != v or v in (float("inf"), float("-inf"))


def _close(a, b, tol: float = 0.0) -> bool:
    """Scores agree to ROUND(x, 6) precision, relative for large values, or
    within ``tol``."""
    if _undefined(a) or _undefined(b):
        return _undefined(a) and _undefined(b)
    return abs(a - b) <= max(1e-6 * max(1.0, abs(a), abs(b)), tol)


def _lgl_ok(got, exp: dict) -> bool:
    """lgl within its rounding bound (``inputs.lgl_bounds``). When lam is
    within that bound of 0, both engines' lgl are rounding residues (one may
    be NaN, the other finite): the value must then be undefined or imply a
    lam no larger than the bound."""
    if exp["lgl_tol"] < 2:
        return _close(got, exp["lgl"], exp["lgl_tol"])
    return _undefined(got) or exp["lgl_sign"] * got / 2 <= math.log(exp["lgl_lam_bound"])


SCORES = ("tscore", "zscore", "lmi", "npmi", "lgl")


def check(workload: str, input_dir: str, out_dir: str) -> str | None:
    """None when the committed outputs are correct, else what is wrong."""
    stage = lambda s: os.path.join(out_dir, s, "data")  # noqa: E731
    if workload == "web_ner":
        got = {(r["subj"], r["obj"]): r for r in pq.read_table(stage("triples")).to_pylist()}
        exp = {(r["subj"], r["obj"]): r for r in
               pq.read_table(os.path.join(input_dir, "expected_triples.parquet")).to_pylist()}
        if got.keys() != exp.keys():
            return f"triples: {len(got.keys() - exp.keys())} unexpected, {len(exp.keys() - got.keys())} missing"
        for k, e in exp.items():
            g = got[k]
            if g["pred"] != e["pred"] or any(g[c] != e[c] for c in ("nab", "na", "nb")):
                return f"triples: counts differ at {k}"
            if not (all(_close(g[c], e[c]) for c in SCORES if c != "lgl") and _lgl_ok(g["lgl"], e)):
                return f"triples: scores differ at {k}"
        with open(os.path.join(input_dir, "expected_entities.json")) as f:
            canon = json.load(f)
        ents = {r["term_id"]: r["canonical_id"] for r in pq.read_table(stage("entities")).to_pylist()}
        if ents != canon:
            return "entities: canonical map differs from the name-sharing components"
        want = {(canon.get(s, s), canon.get(o, o)) for s, o in exp}
        have = {(r["subj"], r["obj"]) for r in pq.read_table(stage("triples_canonical")).to_pylist()}
        return None if want == have else "triples_canonical: pair set differs"
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        # planted author sub-entities are recovered exactly: a bijection
        # between entity ids and planted entities over every record
        n_rec, n_ent, n_true, n_pair = con.execute(f"""
            SELECT count(*), count(DISTINCT entity_id), count(DISTINCT true_entity),
                   count(DISTINCT (entity_id, true_entity))
            FROM read_parquet('{stage("author_entities")}/*.parquet') e
            JOIN read_parquet('{input_dir}/expected_entities.parquet') t USING (doc_id, author_key)""").fetchone()
        sz = inputs.SIZES["entity_canon"]
        if not (n_rec == sz["normal_records"] + sz["mega_records"] and n_ent == n_true == n_pair):
            return f"author_entities: {n_ent} entities for {n_true} planted ({n_rec} records)"
        mega = con.execute(
            f"SELECT author_key, n_records FROM read_parquet('{stage('author_mega_keys')}/*.parquet')").fetchall()
        if mega != [("j smith", sz["mega_records"])]:
            return f"author_mega_keys: {mega}"
        # near-dup clusters: equal to the independent replay of the same
        # MinHash-LSH definition, and never merging two planted clusters
        n_doc, n_wrong, n_mixed = con.execute(f"""
            WITH c AS (SELECT c.cluster_id, t.* FROM read_parquet('{stage("neardup_clusters")}/*.parquet') c
                       JOIN read_parquet('{input_dir}/expected_clusters.parquet') t ON c.doc_id = t.url)
            SELECT count(*), count(*) FILTER (WHERE cluster_id <> expected_cluster),
                   (SELECT count(*) FROM (SELECT cluster_id FROM c GROUP BY 1
                                          HAVING count(DISTINCT true_cluster) > 1))
            FROM c""").fetchone()
        if n_doc != sz["docs"] or n_wrong or n_mixed:
            return (f"neardup_clusters: {n_wrong} of {n_doc} docs differ from the replay, "
                    f"{n_mixed} clusters merge planted clusters")
        return None
    finally:
        con.close()
