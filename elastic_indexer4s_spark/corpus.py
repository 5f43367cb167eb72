"""Deterministic synthetic source-code corpus + reference query set.

Schema per BASELINE.json ``input_hint``: ``(repo, path, commit, lang,
content)``.  Generation is fully deterministic (seeded per-doc RNG, no
wall-clock), per FIXTURES.md §1-2:

* ~2k-term controlled vocabulary with Zipfian frequencies;
* identifiers mixing camelCase / snake_case / PascalCase;
* hot stopword-like terms (``def``, ``return``, ``import``) in ~95% of docs
  (hot terms for the build's salting);
* rare marker terms in exactly 1–3 known docs (pin top-k answers).
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass

_LANGS = ["python", "python", "python", "scala", "java", "java", "go", "js"]
_EXT = {"python": "py", "scala": "scala", "java": "java", "go": "go", "js": "js"}

_STEMS = [
    "index", "token", "query", "score", "merge", "shard", "batch", "stream",
    "alias", "count", "write", "read", "parse", "build", "fetch", "cache",
    "hash", "sort", "scan", "join", "group", "filter", "map", "fold", "node",
    "edge", "tree", "heap", "list", "dict", "block", "chunk", "page", "row",
    "col", "term", "doc", "file", "repo", "path", "commit", "lang", "text",
    "data", "value", "key", "range", "span", "slice", "buffer", "codec",
]
_SUFFIXES = ["", "er", "ing", "ed", "s", "able", "ment", "ize", "or"]
_HOT = ["def", "return", "import"]


def _vocab() -> list[str]:
    """~2k deterministic vocabulary terms."""
    out = []
    for s in _STEMS:
        for suf in _SUFFIXES:
            out.append(s + suf)
    i = 0
    while len(out) < 2000:
        a = _STEMS[i % len(_STEMS)]
        b = _STEMS[(i * 7 + 3) % len(_STEMS)]
        out.append(a + b + _SUFFIXES[i % len(_SUFFIXES)])
        i += 1
    # dedupe, keep deterministic order
    seen: set[str] = set()
    uniq = [w for w in out if not (w in seen or seen.add(w))]
    return uniq[:2000]


VOCAB = _vocab()
# marker terms, each injected into exactly 1-3 known docs
MARKERS = [f"zqmarker{i}" for i in range(12)]


def _ident(rng: random.Random) -> str:
    """A camelCase / snake_case / PascalCase identifier over vocab stems."""
    parts = [rng.choice(_STEMS) for _ in range(rng.randint(1, 3))]
    style = rng.randrange(3)
    if style == 0:  # snake
        return "_".join(parts)
    if style == 1:  # camel
        return parts[0] + "".join(p.capitalize() for p in parts[1:])
    return "".join(p.capitalize() for p in parts)  # Pascal


def _zipf_term(rng: random.Random) -> str:
    # Zipf-ish: rank r with prob ∝ 1/(r+1); inverse-CDF via power draw
    r = int(len(VOCAB) ** rng.random()) - 1
    return VOCAB[max(0, min(r, len(VOCAB) - 1))]


@dataclass(frozen=True)
class CorpusDoc:
    repo: str
    path: str
    commit: str
    lang: str
    content: str


def make_corpus(n_docs: int, seed: int = 42) -> list[CorpusDoc]:
    docs: list[CorpusDoc] = []
    # deterministic marker placement: marker m -> docs {m*17 % n, ...}
    marker_docs: dict[int, list[str]] = {}
    for mi, m in enumerate(MARKERS):
        k = 1 + (mi % 3)
        marker_docs.update({(mi * 17 + j * 31) % n_docs: marker_docs.get((mi * 17 + j * 31) % n_docs, []) + [m]
                            for j in range(k)})
    for i in range(n_docs):
        rng = random.Random(f"{seed}/doc{i}")
        repo = f"org{i % 7}/repo{i % 23}"
        lang = rng.choice(_LANGS)
        path = f"src/{rng.choice(_STEMS)}/{_ident(rng)}.{_EXT[lang]}"
        commit = hashlib.sha1(f"{repo}/{path}".encode()).hexdigest()
        n_lines = rng.randint(3, 25)
        lines = []
        for _ in range(n_lines):
            words = []
            if rng.random() < 0.95:
                words.append(rng.choice(_HOT))
            for _ in range(rng.randint(3, 10)):
                pick = rng.random()
                if pick < 0.55:
                    words.append(_zipf_term(rng))
                elif pick < 0.9:
                    words.append(_ident(rng))
                else:
                    words.append(str(rng.randint(0, 9999)))
            punct = ["(x_1) {", "};", "= []"][rng.randrange(3)]
            lines.append(" ".join(words) + " " + punct)
        content = "\n".join(lines)
        for m in marker_docs.get(i, []):
            content += f"\n{m} marker line"
        docs.append(CorpusDoc(repo, path, commit, lang, content))
    return docs


def reference_queries(n_docs: int) -> list[dict]:
    """The fixed reference query set (FIXTURES.md §2): 50 queries mixing rare
    markers, mid/hot-frequency terms, camelCase inputs, and one absent term."""
    qs: list[dict] = []
    rng = random.Random("queries")
    for qid in range(50):
        k = 10
        if qid % 17 == 0:
            k = 1
        elif qid % 13 == 0:
            k = 100
        kind = qid % 5
        if kind == 0:
            terms = [MARKERS[qid % len(MARKERS)]]
        elif kind == 1:
            terms = [rng.choice(VOCAB), rng.choice(VOCAB)]
        elif kind == 2:
            terms = [rng.choice(_HOT), rng.choice(VOCAB)]
        elif kind == 3:
            # camelCase query input: must be split into sub-tokens
            terms = [rng.choice(_STEMS) + rng.choice(_STEMS).capitalize()]
        else:
            terms = [rng.choice(VOCAB), rng.choice(VOCAB), rng.choice(_STEMS)]
        if qid == 42:
            terms = ["zzabsenttermzz"]
        qs.append({"query_id": qid, "terms": terms, "k": k})
    return qs
