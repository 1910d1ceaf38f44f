"""Seeded input generation and expected outputs for the workloads.

Everything here is plain Python/numpy/pyarrow: no Spark. The same seed gives
the same tables (``digest`` proves it), and the program under test only ever
sees the parquet files written by ``build``. Expected outputs are computed
here, independently of the Spark pipeline:

* ``web_ner``: ``oracle.MiniOracle`` over the page text (the repo's
  straight-line pure-Python reference) for the triples, and the
  name-sharing components of the lexicon for the entities stage.
* ``entity_canon``: the planted author sub-entities, known by
  construction; for the near-dup stage, an independent replay of the
  MinHash-LSH definition (``neardup_replay``) plus the planted clusters.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload (rows are stated in README.md).
SIZES = {
    "web_ner": {"pages": 3000, "sentences": 200, "terms_per_family": 120},
    "entity_canon": {
        "normal_records": 1200, "mega_records": 800, "mega_entities": 8,
        "max_group": 500, "docs": 400, "clusters": 40, "doc_tokens": 160,
    },
}

FAMILIES = ("DOID", "HP", "MP", "CHEBI")
A_PREFIX = "DOID:"
B_PREFIXES = ("HP:", "MP:")
PRED = "has-phenotype"
N_FILES = 8  # parquet files per table, so the scan splits across cores


def _rng(seed: int, stream: str) -> np.random.Generator:
    salt = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "little")
    return np.random.default_rng([seed, salt])


def _words(rng: np.random.Generator, n: int, suffix_digit: bool) -> list[str]:
    """n distinct pronounceable lowercase words. Lexicon words are letters
    only; filler words end in a digit, so the two vocabularies never meet."""
    cons, vows = "bcdfghklmnprstvz", "aeiou"
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(2, 4))
        w = "".join(cons[rng.integers(16)] + vows[rng.integers(5)] for _ in range(k))
        if suffix_digit:
            w += str(int(rng.integers(10)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _write(table: pa.Table, path: str, n_files: int = N_FILES) -> None:
    os.makedirs(path, exist_ok=True)
    step = max(1, -(-table.num_rows // n_files))
    for i, start in enumerate(range(0, max(table.num_rows, 1), step)):
        pq.write_table(table.slice(start, step), os.path.join(path, f"part-{i:03d}.parquet"))


def _digest(tables: dict[str, pa.Table]) -> str:
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


# --------------------------------------------------------------- web_ner

def lexicon_and_hierarchy(seed: int, terms_per_family: int):
    """Four families, each a root -> mids -> leaves tree. Names are 1-3
    lexicon words; about 5% of terms also carry a name shared with a term
    of another family (the entities stage merges those), every third term
    has a synonym, and a few names are too short for the MINLENGTH filter.
    Returns (lexicon rows (name, term_id, kind), closure rows (term_id,
    ancestor_id))."""
    rng = _rng(seed, "lexicon")
    words = _words(rng, 400, suffix_digit=False)
    n_mid = 8
    per_mid = (terms_per_family - 1 - n_mid) // n_mid
    lex: list[tuple[str, str, str]] = []
    closure: list[tuple[str, str]] = []
    used: set[str] = set()

    def fresh_name() -> str:
        while True:
            k = int(rng.integers(1, 4))
            name = " ".join(words[i] for i in rng.integers(0, len(words), k))
            if name not in used:
                used.add(name)
                return name

    terms: list[str] = []
    for fam in FAMILIES:
        root = f"{fam}:{1:07d}"
        terms.append(root)
        for m in range(n_mid):
            mid = f"{fam}:{10 + m:07d}"
            terms.append(mid)
            closure.append((mid, root))
            for j in range(per_mid):
                leaf = f"{fam}:{1000 + m * 100 + j:07d}"
                terms.append(leaf)
                closure += [(leaf, mid), (leaf, root)]
    for i, t in enumerate(terms):
        lex.append((fresh_name(), t, "name"))
        if i % 3 == 0:
            lex.append((fresh_name(), t, "synonym"))
    shared = rng.choice(len(terms), size=max(2, len(terms) // 20), replace=False)
    for i in shared:
        name, tid = lex[int(rng.integers(len(lex)))][:2]
        if terms[i] != tid:
            lex.append((name, terms[i], "synonym"))
    for i in range(4):
        lex.append((words[i][:3], terms[int(rng.integers(len(terms)))], "synonym"))
    lex = sorted(set(lex))
    return lex, closure


def web_pages(seed: int, n_pages: int, sentences: int, lexicon: list[tuple]) -> list[dict]:
    """Long HTML pages with boilerplate around <p> paragraphs. Lexicon names
    are planted 0-3 per sentence with Zipf head terms; the nav and footer
    carry lexicon names too, so extraction must strip them. ``text`` is the
    expected extraction (the oracle reads it; the pipeline reads ``html``)."""
    rng = _rng(seed, "pages")
    filler = _words(rng, 3000, suffix_digit=True)
    fw = _zipf_weights(len(filler), 1.0)
    names = sorted({n for n, _t, _k in lexicon if len(n) > 3})
    order = rng.permutation(len(names))
    nw = _zipf_weights(len(names), 1.1)
    pages = []
    for p in range(n_pages):
        n_fill = rng.integers(6, 15, size=sentences)
        fills = rng.choice(len(filler), size=int(n_fill.sum()), p=fw).tolist()
        n_plant = rng.integers(0, 4, size=sentences)
        plants = order[rng.choice(len(names), size=int(n_plant.sum()), p=nw)].tolist()
        where = rng.random(size=len(plants)).tolist()  # insert position, as a share of the sentence
        sents, fi, pi = [], 0, 0
        for nf, npl in zip(n_fill.tolist(), n_plant.tolist()):
            toks = [filler[i] for i in fills[fi:fi + nf]]
            fi += nf
            for _ in range(npl):
                pos = int(where[pi] * (len(toks) + 1))
                # a filler word after each plant keeps most names apart
                toks[pos:pos] = [names[plants[pi]], filler[0]]
                pi += 1
            sents.append(" ".join(toks) + ".")
        paras = [" ".join(sents[i:i + 6]) for i in range(0, sentences, 6)]
        boiler = names[int(rng.integers(len(names)))]
        html = (
            f"<html><head><title>{boiler}</title><script>track({p})</script></head>"
            f"<body><nav>home {boiler}</nav>"
            + "".join(f"<p>{x}</p>" for x in paras)
            + f"<footer>{boiler} contact</footer></body></html>"
        )
        pages.append({
            "url": f"https://site{p % 97:02d}.example.org/a/{p:07d}",
            "html": html.encode(),
            "text": " ".join(paras).lower(),
            "lang": "de" if rng.random() < 0.04 else "en",
        })
    return pages


def expected_triples(lexicon, closure, pages) -> tuple[list[tuple], int]:
    """(oracle triples, corpus size)."""
    from pmcanalysis_spark.fixtures import LexiconEntry
    from pmcanalysis_spark.oracle import MiniOracle

    oracle = MiniOracle([LexiconEntry(n, t, k) for n, t, k in lexicon], closure)
    state = oracle.run(pages)
    oracle.run = lambda _pages: state  # triples() would scan the pages again
    return oracle.triples(pages, a_prefix=A_PREFIX, b_prefixes=B_PREFIXES, pred=PRED), state["corpus_size"]


# The lgl score is +-2*log(lam), where lam sums nine n*log(n) terms of the
# corpus size's magnitude and can cancel to ~1e-8 of them, so its last
# digits depend on the order and log implementation of the engine. It is
# compared within the formula's own rounding bound on lam: 16 ulps of the
# summed term magnitudes.
LGL_ULPS = 16 * 2.0**-52


def lgl_bounds(t: float, x: float, y: float, xy: float) -> tuple[float, float, int]:
    """(tolerance on lgl, rounding bound on lam, sign): lgl = sign*2*log(lam).
    The tolerance is the lam bound carried through 2*log; it reaches 2 when
    lam is within its bound of 0 (exact independence, xy*t = x*y, has
    lam = 0), and lgl is then not determined in double precision."""
    import math

    def xlog(v: float) -> float:
        return v * math.log(v) if v > 0 else 0.0

    terms = (xlog(t), xlog(x), xlog(y), xlog(xy), xlog(t - x - y + xy), xlog(x - xy),
             xlog(y - xy), xlog(t - x), xlog(t - y))
    signs = (1, -1, -1, 1, 1, 1, 1, -1, -1)
    lam = sum(s * v for s, v in zip(signs, terms))
    bound = LGL_ULPS * sum(terms)
    return 2 * bound / abs(lam) if lam else float("inf"), bound, -1 if xy < x * y / t else 1


def expected_entities(lexicon) -> dict[str, str]:
    """term_id -> canonical id: components of terms sharing a name (every
    lexicon row enters the entities stage as kind 'name'), min id wins."""
    parent: dict[str, str] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    by_name: dict[str, list[str]] = {}
    for n, t, _k in lexicon:
        by_name.setdefault(n, []).append(t)
        find(t)
    for ids in by_name.values():
        for t in ids[1:]:
            a, b = find(ids[0]), find(t)
            if a != b:
                parent[max(a, b)] = min(a, b)
    return {t: find(t) for t in parent}


def _web_ner_tables(seed: int, sz: dict) -> dict[str, pa.Table]:
    lex, closure = lexicon_and_hierarchy(seed, sz["terms_per_family"])
    pages = web_pages(seed, sz["pages"], sz["sentences"], lex)
    return {
        "lexicon": pa.table({k: [r[i] for r in lex] for i, k in enumerate(("name", "term_id", "kind"))}),
        "hierarchy": pa.table({"term_id": [c for c, _ in closure], "ancestor_id": [a for _, a in closure]}),
        "pages": pa.table({
            "url": [p["url"] for p in pages],
            "warc_ts": pa.array([None] * len(pages), pa.timestamp("us")),
            "html": pa.array([p["html"] for p in pages], pa.binary()),
            "text": [p["text"] for p in pages],
            "lang": [p["lang"] for p in pages],
        }),
    }


def _web_ner_expected(tables: dict[str, pa.Table], out: str) -> None:
    lex = [tuple(r.values()) for r in tables["lexicon"].to_pylist()]
    closure = [tuple(r.values()) for r in tables["hierarchy"].to_pylist()]
    pages = tables["pages"].select(["url", "text", "lang"]).to_pylist()
    triples, total = expected_triples(lex, closure, pages)
    cols = ("subj", "pred", "obj", "tscore", "zscore", "lmi", "npmi", "lgl", "nab", "na", "nb")
    data = {c: [r[i] for r in triples] for i, c in enumerate(cols)}
    bounds = [lgl_bounds(total, r[9], r[10], r[8]) for r in triples]
    for i, c in enumerate(("lgl_tol", "lgl_lam_bound", "lgl_sign")):
        data[c] = [b[i] for b in bounds]
    pq.write_table(pa.table(data), os.path.join(out, "expected_triples.parquet"))
    with open(os.path.join(out, "expected_entities.json"), "w") as f:
        json.dump(expected_entities(lex), f)


# ---------------------------------------------------------- entity_canon

def author_records(seed: int, normal: int, mega: int, mega_entities: int) -> pa.Table:
    """Author records with planted sub-entities (column ``true_entity``,
    dropped before the pipeline sees the table). Ordinary keys have Zipf
    sizes and 1-3 entities each; one mega key exceeds the group cap and
    holds ``mega_entities`` sub-entities, each with its own coauthor pair.
    Every feature token is entity-specific, so records of different
    entities score zero on all four features."""
    rng = _rng(seed, "authors")
    rows: dict[str, list] = {c: [] for c in (
        "doc_id", "author_key", "coauthors", "mesh", "title_tokens",
        "affiliation_tokens", "true_entity")}

    def add(key: str, ent: str, coauthors: list[str]):
        i = len(rows["doc_id"])
        rows["doc_id"].append(f"P{i:07d}")
        rows["author_key"].append(key)
        rows["coauthors"].append(coauthors)
        rows["mesh"].append([f"{ent}.m{int(rng.integers(4))}", f"{ent}.m{4 + int(rng.integers(4))}"])
        rows["title_tokens"].append([f"{ent}.topic", f"t{i}a", f"t{i}b"])
        rows["affiliation_tokens"].append([f"{ent}.dept", f"{ent}.univ"])
        rows["true_entity"].append(ent)

    for e in range(mega_entities):
        ent = f"j smith#{e}"
        for _ in range(mega // mega_entities):
            add("j smith", ent, [f"{ent}.co0", f"{ent}.co1"])
    sizes = np.minimum(rng.zipf(1.6, size=normal), 60)
    k, left = 0, normal
    while left > 0:
        size = int(min(sizes[k], left))
        key = f"author {k:05d}"
        n_ent = 1 + int(rng.integers(min(3, size)))
        for r in range(size):
            ent = f"{key}#{r % n_ent}"
            pool = [f"{ent}.co{j}" for j in range(3)]
            add(key, ent, [pool[j] for j in sorted(rng.choice(3, size=2, replace=False))])
        k += 1
        left -= size
    order = rng.permutation(len(rows["doc_id"]))  # spread the mega key over the files
    return pa.table({c: [v[i] for i in order] for c, v in rows.items()})


def neardup_docs(seed: int, n_docs: int, clusters: int, tokens: int) -> pa.Table:
    """Documents over a Zipf vocabulary with planted near-duplicate clusters
    of 3-5 copies (each copy of a cluster's base text has one token
    replaced). Column ``true_cluster`` names the planted cluster by its
    smallest url (a document alone is its own cluster)."""
    rng = _rng(seed, "neardup")
    vocab = _words(rng, 20_000, suffix_digit=True)
    w = _zipf_weights(len(vocab), 0.9)
    urls, texts, truth = [], [], []
    for _ in range(clusters):
        base = [vocab[i] for i in rng.choice(len(vocab), size=tokens, p=w)]
        first = len(urls)
        for j in range(int(rng.integers(3, 6))):
            toks = list(base)
            if j:
                toks[int(rng.integers(tokens))] = vocab[int(rng.integers(len(vocab)))]
            urls.append(f"https://mirror.example.org/n/{len(urls):07d}")
            texts.append(" ".join(toks))
            truth.append(urls[first])
    while len(urls) < n_docs:
        urls.append(f"https://mirror.example.org/n/{len(urls):07d}")
        texts.append(" ".join(vocab[i] for i in rng.choice(len(vocab), size=tokens, p=w)))
        truth.append(urls[-1])
    order = rng.permutation(len(urls))
    return pa.table({
        "url": [urls[i] for i in order],
        "text": [texts[i] for i in order],
        "lang": ["en"] * len(urls),
        "true_cluster": [truth[i] for i in order],
    })


def _entity_canon_tables(seed: int, sz: dict) -> dict[str, pa.Table]:
    return {
        "authors": author_records(seed, sz["normal_records"], sz["mega_records"], sz["mega_entities"]),
        "docs": neardup_docs(seed, sz["docs"], sz["clusters"], sz["doc_tokens"]),
    }


def _entity_canon_expected(tables: dict[str, pa.Table], out: str) -> None:
    pq.write_table(tables["authors"].select(["doc_id", "author_key", "true_entity"]),
                   os.path.join(out, "expected_entities.parquet"))
    docs = tables["docs"]
    _expected_clusters(docs.column("url").to_pylist(), docs.column("text").to_pylist(),
                       docs.column("true_cluster").to_pylist(), out)


# ------------------------------------------------------ near-duplicates

MERSENNE61 = (1 << 61) - 1


def neardup_replay(urls: list[str], texts: list[str], threshold: float = 0.8,
                   num_hashes: int = 16, bands: int = 4) -> dict[str, str]:
    """url -> cluster id as ``dedup.neardup_text_clusters`` defines it,
    recomputed independently: word 3-gram shingles; MinHash with the affine
    family (h1 + i*h2) mod (2^61 - 1) over one md5 per shingle (h1 = hex
    chars 1-15, h2 = chars 16-30 mod 2^57); docs sharing all rows of a band
    are candidates; candidates whose shingle-set Jaccard (after dropping
    shingles in more than half the docs) reaches ``threshold`` are linked;
    a cluster is a connected component, named by its smallest url."""
    rows = num_hashes // bands
    i = np.arange(num_hashes, dtype=np.int64)
    shingle_sets, buckets = [], {}
    for d, text in enumerate(texts):
        toks = text.split(" ")
        grams = {" ".join(toks[j:j + 3]) for j in range(len(toks) - 2)}
        shingle_sets.append(grams)
        hexes = [hashlib.md5(g.encode()).hexdigest() for g in grams]
        h1 = np.array([int(h[:15], 16) for h in hexes], dtype=np.int64)
        h2 = np.array([int(h[15:30], 16) % (1 << 57) for h in hexes], dtype=np.int64)
        sig = ((h1[:, None] + i[None, :] * h2[:, None]) % MERSENNE61).min(axis=0)
        for b in range(bands):
            buckets.setdefault((b, tuple(sig[b * rows:(b + 1) * rows])), []).append(d)
    df: dict[str, int] = {}
    for grams in shingle_sets:
        for g in grams:
            df[g] = df.get(g, 0) + 1
    hot = {g for g, c in df.items() if c * 2 > len(texts)}
    parent = list(range(len(texts)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for members in buckets.values():
        for a_i, a in enumerate(members):
            for b in members[a_i + 1:]:
                sa, sb = shingle_sets[a] - hot, shingle_sets[b] - hot
                if len(sa & sb) >= threshold * len(sa | sb):
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    comp: dict[int, str] = {}
    for d in range(len(texts)):
        r = find(d)
        comp[r] = min(comp.get(r, urls[d]), urls[d])
    return {urls[d]: comp[find(d)] for d in range(len(texts))}


def _expected_clusters(urls: list[str], texts: list[str], truth: list[str], out: str) -> None:
    """Write the replayed near-dup clusters next to the planted ones, and a
    note of how many planted clusters the LSH definition recovers whole."""
    replay = neardup_replay(urls, texts)
    pq.write_table(pa.table({
        "url": urls, "true_cluster": truth, "expected_cluster": [replay[u] for u in urls],
    }), os.path.join(out, "expected_clusters.parquet"))
    recovered: dict[str, set[str]] = {}
    for u, t in zip(urls, truth):
        recovered.setdefault(t, set()).add(replay[u])
    planted = [t for t in recovered if truth.count(t) > 1]
    with open(os.path.join(out, "notes.json"), "w") as f:
        json.dump({"planted near-dup clusters recovered whole by the LSH definition":
                   f"{sum(len(recovered[t]) == 1 for t in planted)} of {len(planted)}"}, f)


# workload -> (input tables, expected outputs); planted-truth columns are
# dropped from the parquet the pipeline reads
GENERATORS = {
    "web_ner": (_web_ner_tables, _web_ner_expected),
    "entity_canon": (_entity_canon_tables, _entity_canon_expected),
}
TRUTH_COLUMNS = {"true_cluster", "true_entity"}
SINGLE_FILE = {"lexicon", "hierarchy"}


def tables(workload: str, seed: int, sizes: dict | None = None) -> dict[str, pa.Table]:
    """The generated input tables of ``workload`` (``sizes`` overrides
    ``SIZES[workload]``, e.g. smaller for tests)."""
    return GENERATORS[workload][0](seed, sizes or SIZES[workload])


def digest(workload: str, seed: int, sizes: dict | None = None) -> str:
    return _digest(tables(workload, seed, sizes))


def cache_key(workload: str) -> str:
    """Hash of the sizes and of every source file the inputs and expected
    outputs are computed from: this module and the oracle with its imports.
    A change to any of them makes new cache entries."""
    from pmcanalysis_spark import fixtures, nlp, oracle
    from pmcanalysis_spark.functions import scores

    h = hashlib.sha256(json.dumps(SIZES[workload], sort_keys=True).encode())
    for module in (__file__, oracle.__file__, fixtures.__file__, nlp.__file__, scores.__file__):
        with open(module, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def build(workload: str, seed: int, cache_dir: str) -> tuple[str, Callable[[], None]]:
    """Generate (or reuse) the inputs and expected outputs of ``workload``
    for ``seed`` under ``cache_dir``, keyed by ``cache_key``. Returns the
    input directory, with the input tables written, and ``wait``: the
    expected outputs are computed in a background thread, and ``wait()``
    returns once they and the ``DIGEST`` file, which marks the directory
    complete, are written (it re-raises an error of that thread)."""
    out = os.path.join(cache_dir, f"{workload}-seed{seed}-{cache_key(workload)}")
    if os.path.exists(os.path.join(out, "DIGEST")):
        return out, lambda: None
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tabs = tables(workload, seed)
    for name, t in tabs.items():
        keep = [c for c in t.column_names if c not in TRUTH_COLUMNS]
        _write(t.select(keep), os.path.join(out, name), 1 if name in SINGLE_FILE else N_FILES)

    def expected() -> None:
        GENERATORS[workload][1](tabs, out)
        with open(os.path.join(out, "DIGEST"), "w") as f:
            f.write(_digest(tabs))

    pool = ThreadPoolExecutor(max_workers=1)
    done = pool.submit(expected)
    pool.shutdown(wait=False)
    return out, done.result
