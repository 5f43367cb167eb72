"""Seeded corpus and query-set generator for the benchmark.

The corpus has the ``(repo, path, commit, lang, content)`` shape of the
engine's documents table.  Its vocabulary is 150k distinct lowercase
pseudo-words of consonant-vowel syllables, drawn with Zipfian frequencies,
so a 50k-doc corpus indexes over 10^5 distinct terms.  Words are glued into
camelCase / snake_case / PascalCase identifiers, so the analyzer's
splitting is exercised.  Four hot keywords (``import``, ``def``, ``self``,
``return``) appear in ~95% of docs, and ``return self`` is always adjacent,
so dense phrase queries have work.  Planted marker terms sit in 1-3 known
docs each.

Everything, the query sets too, derives from ``seed``; the same seed gives
the same bytes.  Generation is vectorized (NumPy + Arrow compute) so that it
stays small next to the build it feeds.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

#: bump when the generated files change, so cached corpora are not reused
GENERATOR_VERSION = 2

VOCAB_SIZE = 150_000
ZIPF_S = 1.0
HOT = ("import", "def", "self", "return")
HOT_DOC_FRAC = 0.95
N_MARKERS = 64
ABSENT_TERM = "zzabsenttermzz"
LANGS = ("python", "python", "python", "java", "java", "go", "scala", "js")
EXT = {"python": "py", "java": "java", "go": "go", "scala": "scala",
       "js": "js"}
#: separators between two identifiers (never between parts of one)
_PUNCT = (" ", " = ", "(", ", ", ")\n    ", ".", ";\n", " + ", "[", "]\n")
_CONS = "bcdfghjklmnprstvwz"
_VOWELS = "aeiou"


def vocabulary(seed: int) -> np.ndarray:
    """``VOCAB_SIZE`` distinct pseudo-words in Zipf-rank order."""
    rng = np.random.default_rng([seed, 1])
    syl = np.array([c + v for c in _CONS for v in _VOWELS])
    words: set[str] = set()
    out: list[str] = []
    while len(out) < VOCAB_SIZE:
        n = VOCAB_SIZE - len(out)
        lens = rng.choice([2, 3, 4], size=n * 2, p=[0.15, 0.6, 0.25])
        parts = rng.integers(0, len(syl), size=(n * 2, 4))
        for ln, row in zip(lens, parts):
            w = "".join(syl[row[:ln]])
            if w not in words and w not in HOT:
                words.add(w)
                out.append(w)
                if len(out) == VOCAB_SIZE:
                    break
    return np.array(out, dtype=object)


def marker(i: int) -> str:
    return f"zqmk{i}q"


def _zipf_ranks(rng, n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(n)), VOCAB_SIZE - 1)


def make_corpus(n_docs: int, seed: int, vocab: np.ndarray):
    """→ (Arrow table of the five corpus columns, {marker: [path, ...]}),
    drawn from ``vocab`` = ``vocabulary(seed)``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    rng = np.random.default_rng([seed, 2])
    lower = pa.array(vocab.tolist(), pa.string())
    cap = pc.utf8_capitalize(lower)

    # body: a flat token stream, cut into docs by per-doc token counts
    counts = rng.integers(16, 48, size=n_docs)
    total = int(counts.sum())
    doc_end = np.cumsum(counts)
    ids = _zipf_ranks(rng, total)
    # boundary after each token: 0 = camel join, 1 = snake join, 2 = punct;
    # the last token of each doc always closes its identifier
    bound = rng.choice(3, size=total, p=[0.22, 0.18, 0.60])
    bound[doc_end - 1] = 2
    # a token is capitalized after a camel join, or (Pascal) sometimes when
    # it opens a new identifier; a capitalized token never follows a
    # lowercase one without a separator, so no two words fuse into one term
    prev = np.concatenate(([2], bound[:-1]))
    prev[np.concatenate(([0], doc_end[:-1]))] = 2
    is_cap = (prev == 0) | ((prev == 2) & (rng.random(total) < 0.2))
    punct = rng.integers(0, len(_PUNCT), size=total)
    sep_ix = np.where(bound == 0, 0, np.where(bound == 1, 1, 2 + punct))
    seps = pa.array(["", "_", *_PUNCT], pa.string())
    idx = pa.array(ids)
    words = pc.if_else(pa.array(is_cap), cap.take(idx), lower.take(idx))
    pieces = pc.binary_join_element_wise(
        words, seps.take(pa.array(sep_ix)), "")
    offsets = pa.array(np.concatenate(([0], doc_end)).astype(np.int32))
    body = pc.binary_join(pa.ListArray.from_arrays(offsets, pieces), "")

    def flag():
        return pa.array(rng.random(n_docs) < HOT_DOC_FRAC)

    head = pc.if_else(flag(), "import os\n", "")
    # "def <identifier>(self):" — the def name is a single vocabulary word
    # half of the time, so "def self" also matches at slop 1
    fn = lower.take(pa.array(_zipf_ranks(rng, n_docs)))
    fn_def = pc.binary_join_element_wise("def ", fn, "(self):\n    ", "")
    mid = pc.if_else(flag(), fn_def, "")
    tail = pc.if_else(flag(), "\n    return self.", "\n")
    tail_ident = lower.take(pa.array(_zipf_ranks(rng, n_docs)))

    # planted markers: marker i lives in exactly 1 + i % 3 distinct docs
    planted: dict[str, list[int]] = {}
    extra = np.full(n_docs, "", dtype=object)
    for i in range(N_MARKERS):
        docs = rng.choice(n_docs, size=1 + i % 3, replace=False)
        planted[marker(i)] = sorted(int(d) for d in docs)
        for d in docs:
            extra[d] += f"\n# {marker(i)}"
    content = pc.binary_join_element_wise(
        head, mid, body, tail, tail_ident,
        pa.array(extra.tolist(), pa.string()), "")

    langs = np.array(LANGS)[rng.integers(0, len(LANGS), size=n_docs)]
    repo = [f"org{i % 13}/repo{i % 211}" for i in range(n_docs)]
    path = [f"src/m{i // 1000}/f{i}.{EXT[lang]}"
            for i, lang in enumerate(langs)]
    commit = [hashlib.sha1(f"{r}/{p}".encode()).hexdigest()
              for r, p in zip(repo, path)]
    table = pa.table({"repo": repo, "path": path, "commit": commit,
                      "lang": langs.tolist(), "content": content})
    markers = {m: [path[d] for d in ds] for m, ds in planted.items()}
    return table, markers


def write_corpus(table, out_dir: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files, so a Spark scan has at
    least ``n_files`` splits."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(out_dir, f"part-{i:03d}.parquet"))


def df_bands(vocab: np.ndarray) -> dict[str, np.ndarray]:
    """Vocabulary slices by Zipf rank.  At 50k docs of ~40 tokens,
    ``dense`` (ranks 0-11) sits in ~25-95% of docs, ``mid`` (12-59) in
    ~5-25%, and ``rare`` (2,000-99,999) in at most ~0.2%."""
    return {"dense": vocab[:12], "mid": vocab[12:60],
            "rare": vocab[2_000:100_000]}


def query_sets(seed: int, markers: dict[str, list[str]],
               vocab: np.ndarray) -> dict:
    """Every workload's queries, derived from ``seed`` and from ``vocab`` =
    ``vocabulary(seed)``.

    Returns ``{"rare": [...], "dense": [...]}``; each query is a dict with
    ``kind`` (``or``/``and``/``prefix``/``phrase``/``bool``) and its
    arguments.  Marker queries carry ``expect_paths``.
    Fuzzy queries are deliberately absent: serving fuzzy expansion runs a
    pure-Python Levenshtein over the whole vocabulary (seconds per query at
    10^5 terms), which would swamp every other layer.
    """
    rng = np.random.default_rng([seed, 3])
    bands = df_bands(vocab)
    mk = sorted(markers)

    def pick(band, n=1):
        return [str(x) for x in rng.choice(bands[band], size=n, replace=False)]

    def camel(a, b):
        return a + b[:1].upper() + b[1:]

    rare: list[dict] = []
    for i in range(400):
        r = i % 10
        if r == 0:
            m = mk[int(rng.integers(len(mk)))]
            rare.append({"kind": "or", "terms": [m],
                         "expect_paths": sorted(markers[m])})
        elif r == 1:
            rare.append({"kind": "prefix", "prefix": pick("rare")[0][:5]})
        elif r == 2:
            rare.append({"kind": "or", "terms": [camel(*pick("rare", 2))]})
        elif r == 3:
            rare.append({"kind": "or", "terms": [ABSENT_TERM, *pick("rare")]})
        elif r in (4, 5):
            rare.append({"kind": "and", "terms": pick("rare", 2)})
        else:
            rare.append({"kind": "or",
                         "terms": pick("rare", int(rng.integers(1, 4)))})

    # dense terms follow a fixed rank schedule, not a random draw: a dense
    # query's cost grows with its terms' df, so drawing ranks at random
    # would make the per-seed cost of the mix differ far more than the
    # per-seed words do
    dense_b, mid_b = bands["dense"], bands["mid"]
    dense: list[dict] = []
    for i in range(200):
        r, j = i % 8, i // 8
        d0, d1 = str(dense_b[j % 12]), str(dense_b[(j + 5) % 12])
        m = [str(mid_b[(3 * j + x) % len(mid_b)]) for x in range(3)]
        if r == 0:
            dense.append({"kind": "or",
                          "terms": [HOT[j % 4], HOT[(j + 1) % 4], d0]})
        elif r == 1:
            dense.append({"kind": "and", "terms": [d0, d1]})
        elif r == 2:
            dense.append({"kind": "or", "terms": m})
        elif r == 3:
            dense.append({"kind": "phrase", "terms": ["return", "self"],
                          "slop": 0})
        elif r == 4:
            dense.append({"kind": "phrase", "terms": ["def", "self"],
                          "slop": 1})
        elif r == 5:
            dense.append({"kind": "phrase", "terms": [d0, d1],
                          "slop": j % 2})
        elif r == 6:
            dense.append({"kind": "bool", "must": [d0], "should": m[:2],
                          "must_not": [HOT[0]]})
        else:
            dense.append({"kind": "and", "terms": [HOT[3], m[2]]})

    return {"rare": rare, "dense": dense}


def prepare(seed: int, n_docs: int, root: str) -> tuple[str, dict]:
    """Generate (or reuse) the corpus for ``(seed, n_docs)`` under ``root``
    → (corpus dir, meta).  Generation runs in a child process, so its
    buffers never count toward the caller's memory.  ``meta.json`` is
    written last and marks a complete corpus."""
    import json
    import subprocess
    import sys

    out = os.path.join(root, f"v{GENERATOR_VERSION}-n{n_docs}-s{seed}")
    meta_path = os.path.join(out, "meta.json")
    if not os.path.exists(meta_path):
        subprocess.run([sys.executable, os.path.abspath(__file__),
                        str(seed), str(n_docs), out], check=True)
    with open(meta_path) as f:
        return out, json.load(f)


def load_vocabulary(corpus_dir: str) -> np.ndarray:
    """The vocabulary a prepared corpus was drawn from, as ``vocabulary``
    returns it, without drawing it again."""
    with open(os.path.join(corpus_dir, "vocab.txt")) as f:
        return np.array(f.read().split("\n"), dtype=object)


def _generate(seed: int, n_docs: int, out: str) -> None:
    import json
    import shutil

    import pyarrow.compute as pc

    shutil.rmtree(out, ignore_errors=True)
    vocab = vocabulary(seed)
    table, markers = make_corpus(n_docs, seed, vocab)
    write_corpus(table, os.path.join(out, "full"), n_files=8)
    # the warm-up slice: enough docs to touch every build stage and shard;
    # its cost is almost all fixed start-up, whatever its size
    n_warm = min(500, max(100, n_docs // 10))
    write_corpus(table.slice(0, n_warm), os.path.join(out, "warm"), n_files=1)
    with open(os.path.join(out, "vocab.txt"), "w") as f:
        f.write("\n".join(vocab))
    meta = {"n_docs": n_docs, "n_warm": n_warm, "seed": seed,
            "content_bytes": int(pc.sum(pc.binary_length(
                table.column("content"))).as_py()),
            "markers": markers}
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)


if __name__ == "__main__":
    import sys

    _generate(int(sys.argv[1]), int(sys.argv[2]), sys.argv[3])
