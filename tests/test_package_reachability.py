"""Every top-level def in the package is reached from a program entry point,
or is named below with the reason it is kept.

The scan is static: it parses the package and the non-test roots
(``__spark_entry__.py``, ``scripts/``, ``bench*.py``, ``perfbench/``) and
follows imports, names, ``module.attr`` chains and ``"module:attr"``
strings (the decoder-hook form) from the roots. Reaching a class reaches all
of its methods; importing a module runs its body.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "pmcanalysis_spark"

_HOOK_RE = re.compile(r"^([A-Za-z_][\w.]*):([A-Za-z_]\w*)$")

# Unreached from every root, kept on purpose: "module:def" -> reason.
KEPT_UNREACHED = {
    # Sources and sinks of the reference dataflow (Medline XML, STITCH, GAF,
    # N-Triples, OWL labels, raw author records); wiring them into a
    # pipeline script is a later change.
    "sources.xml:medline_articles": "Medline XML source of the reference dataflow",
    "sources.xml:parse_medline_xml_text": "Medline XML parser behind medline_articles",
    "sources.xml:_text": "element-text helper of the Medline XML parser",
    "sources.tsv:stitch_alias_scan": "STITCH alias source of the reference dataflow",
    "sources.tsv:phenotype_annotation_scan": "phenotype annotation source of the reference dataflow",
    "sources.tsv:to_ntriples": "N-Triples sink of the reference dataflow",
    "sources.tsv:to_gaf": "GAF sink of the reference dataflow",
    "sources.obo:parse_owl_labels": "OWL label source of the reference dataflow",
    "canonicalize:author_records_from_raw": "raw author-record source of the reference dataflow",
    # The reference's sentence-grain scoring, next to the gated sentence_pair_counts.
    "operators.sentence_grain:mention_occurrence_counts": "sentence-grain scoring of the reference",
    "operators.sentence_grain:rollup_counts": "sentence-grain scoring of the reference",
    "operators.sentence_grain:npmi_scored_sentence_pairs": "sentence-grain scoring of the reference",
    # Parity references the fast paths are tested against.
    "operators.similarity:_plane_component_spark_md5": "Spark-md5 parity reference of the driver-folded planes",
    "oracle:approx_equal": "float comparison of the pure-Python oracle",
    "oracle:trapezoid_auc": "pure-Python parity reference of ranking.trapezoid_auc",
    # Decoder hooks, named by the user as "module:attr" on the command line.
    "codecs:passthrough_decoder": "decoder hook that declines every payload",
    "codecs:fake_fast_decoder": "decoder hook for the synthetic FAKE payloads",
    # Test data builders.
    "fixtures:build_author_records": "test fixture builder",
    "fixtures:build_rates": "test fixture builder",
    "fixtures:fixture_obo_text": "test fixture builder",
    # Small public helpers with no pipeline caller yet.
    "lineage:read_lineage": "reads back the lineage table a stage writes",
    "operators.bpe:encode_bpe": "applies learned BPE merges to new text",
    "operators.evaluate:pr_auc": "ranking metric next to the gated ROC-AUC",
    # The HTTP serving layer over a materialized KG.
    "server:KGServer": "HTTP server over a materialized KG",
    "server:_render_html": "HTML page of the HTTP server",
    "serving:KGIndex": "query index the HTTP server serves",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_of(mod: str, path: Path) -> str:
    return mod if path.name == "__init__.py" else mod.rpartition(".")[0]


class _Scan:
    def __init__(self):
        self.paths = {_module_name(p): p for p in (ROOT / PKG).rglob("*.py")}
        self.trees = {m: ast.parse(p.read_text()) for m, p in self.paths.items()}
        self.defs = {
            m: {
                n.name: n
                for n in t.body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            }
            for m, t in self.trees.items()
        }
        self.top_imports = {
            m: self._imports(m, self.paths[m], t.body) for m, t in self.trees.items()
        }

    def _imports(self, mod: str, path: Path, stmts) -> dict[str, tuple[str, str | None]]:
        """local name -> (module, attr or None for a module alias)."""
        out: dict[str, tuple[str, str | None]] = {}
        for stmt in stmts:
            for n in ast.walk(stmt):
                if isinstance(n, ast.Import):
                    for a in n.names:
                        if a.asname:
                            out[a.asname] = (a.name, None)
                        else:
                            head = a.name.split(".")[0]
                            out[head] = (head, None)
                elif isinstance(n, ast.ImportFrom):
                    base = n.module or ""
                    if n.level:
                        pkg = _package_of(mod, path).split(".")
                        pkg = pkg[: len(pkg) - (n.level - 1)]
                        base = ".".join(pkg + ([base] if base else []))
                    for a in n.names:
                        out[a.asname or a.name] = (base, a.name)
        return out

    def resolve(self, mod: str, attr: str | None, seen=()) -> str | None:
        """Target of ``mod.attr``: "module:def", "module" or None (external)."""
        if attr is None:
            return mod if mod in self.paths else None
        if attr in self.defs.get(mod, {}):
            return f"{mod}:{attr}"
        if f"{mod}.{attr}" in self.paths:
            return f"{mod}.{attr}"
        src = self.top_imports.get(mod, {}).get(attr)
        if src and (mod, attr) not in seen:
            return self.resolve(*src, seen=(*seen, (mod, attr)))
        return None

    def refs(self, mod: str, node, imports) -> set[str]:
        out: set[str] = set()

        def local(name):
            if mod in self.defs and name in self.defs[mod]:
                return f"{mod}:{name}"
            if name in imports:
                return self.resolve(*imports[name])
            return None

        for n in ast.walk(node):
            if isinstance(n, ast.Import):
                out.update(self.resolve(a.name, None) for a in n.names)
            elif isinstance(n, ast.ImportFrom):
                out.update(self.resolve(*imports[a.asname or a.name]) for a in n.names)
            elif isinstance(n, ast.Name):
                out.add(local(n.id))
            elif isinstance(n, ast.Attribute):
                chain, cur = [], n
                while isinstance(cur, ast.Attribute):
                    chain.append(cur.attr)
                    cur = cur.value
                if isinstance(cur, ast.Name):
                    tgt = local(cur.id)
                    for attr in reversed(chain):
                        if tgt is None or ":" in tgt:
                            break
                        tgt = self.resolve(tgt, attr)
                    out.add(tgt)
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                m = _HOOK_RE.match(n.value)
                if m:
                    out.add(self.resolve(m.group(1), m.group(2)))
        out.discard(None)
        return out

    def unreached(self, roots: list[Path]) -> set[str]:
        todo: list[str] = []
        for p in roots:
            tree = ast.parse(p.read_text())
            todo += self.refs("", tree, self._imports("", p, [tree]))
        reached: set[str] = set()
        while todo:
            key = todo.pop()
            if key in reached:
                continue
            reached.add(key)
            mod, _, name = key.partition(":")
            parts = mod.split(".")
            todo += [".".join(parts[:i]) for i in range(1, len(parts))]
            if name:
                node = self.defs[mod][name]
                imports = {**self.top_imports[mod], **self._imports(mod, self.paths[mod], [node])}
                todo += self.refs(mod, node, imports)
            else:
                body = [s for s in self.trees[mod].body if s not in self.defs[mod].values()]
                imports = self.top_imports[mod]
                for s in body:
                    todo += self.refs(mod, s, imports)
        every = {f"{m}:{d}" for m, ds in self.defs.items() for d in ds}
        return {k.removeprefix(PKG + ".") for k in every - reached}


def _roots() -> list[Path]:
    return sorted(
        [ROOT / "__spark_entry__.py", *ROOT.glob("bench*.py")]
        + list((ROOT / "scripts").glob("*.py"))
        + list((ROOT / "perfbench").glob("*.py"))
    )


def test_only_allowlisted_package_defs_are_unreached():
    unreached = _Scan().unreached(_roots())
    assert sorted(unreached - KEPT_UNREACHED.keys()) == [], "reached by no root"
    assert sorted(KEPT_UNREACHED.keys() - unreached) == [], "allowlisted but reached"


def test_scan_resolves_aliases_attribute_chains_and_hook_strings():
    scan = _Scan()
    tree = ast.parse(
        "import pmcanalysis_spark.operators.dedup\n"
        "from pmcanalysis_spark import nlp as n\n"
        "n.detect_doc_terms\n"
        "pmcanalysis_spark.operators.dedup.band_pairs\n"
        "HOOK = 'pmcanalysis_spark.codecs:fake_fast_decoder'\n"
    )
    got = scan.refs("", tree, scan._imports("", ROOT / "root.py", [tree]))
    assert {
        f"{PKG}.nlp:detect_doc_terms",
        f"{PKG}.operators.dedup:band_pairs",
        f"{PKG}.codecs:fake_fast_decoder",
    } <= got
