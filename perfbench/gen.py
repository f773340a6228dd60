"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and sizes: the same seed
gives byte-identical rows. The truth labels stay here; the program under
test only ever reads the rows, from the parquet files ``write_parquet``
makes.

Files corpus (``files_corpus``), shares of rows:

    corrupt         2%   empty / whitespace-only / token-free content
    exact families 20%   byte-identical copies, 2-5 per family
    near families  28%   a base text plus 1-3 edited variants; 9 in 10
                         variants get 1-4 token substitutions (inside the
                         pipeline's thresholds), 1 in 10 gets 10-14
                         (outside them, a planted miss)
    singletons     50%   unrelated texts

so about 48% of rows have a planted duplicate.

Append batch (``append_batch``): rows to append to a files corpus. A
share of them touch the corpus's planted families (exact copies and
near edits of family members); the rest is a fresh files corpus with
the shares above.

Entity corpus (``entity_corpus``): people records (name, city, birth
year) in blocks of about 30 rows, 1-4 records per entity. Variants carry
1-2 character edits in the name (1 in 20 get 3-4, a planted miss at
edit distance 2). ``hot_blocks`` planted blocks hold ``hot_rows`` rows
each, over the linkage ``max_block`` cap, so the sorted-neighbourhood
fallback runs.
"""

from __future__ import annotations

import hashlib
import math
import os
from collections import Counter
from dataclasses import dataclass

import numpy as np

FILES_COLUMNS = {c: "string" for c in ("repo", "path", "commit", "lang", "content")}
ENTITY_COLUMNS = {
    "rid": "int64", "blk": "string", "name": "string", "city": "string", "birth_year": "int32"
}
LANGS = ["python", "java", "js", "go", "rust", "md"]
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
_SYLLABLES = [
    c + v
    for c in "bcdfghjklmnprstvwz"
    for v in ("a", "e", "i", "o", "u", "ai", "ou")
]


def write_parquet(rows: list[tuple], columns: dict[str, str], path: str, parts: int) -> None:
    """Write ``rows`` as a parquet directory of ``parts`` files (one Spark
    input partition each) with the given arrow types."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // parts)
    for k in range(parts):
        chunk = rows[k * step : (k + 1) * step]
        cols = list(zip(*chunk)) if chunk else [[] for _ in columns]
        table = pa.table(
            {name: pa.array(c, type=t) for (name, t), c in zip(columns.items(), cols)}
        )
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))


@dataclass
class Corpus:
    """Generated rows plus the truth: ``family[i]`` names the planted
    duplicate group of row ``i`` (None: duplicate of nothing)."""

    rows: list[tuple]
    family: list[str | None]


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    lens = rng.integers(3, 10, size=n)
    return np.array(
        ["".join(rng.choice(_LETTERS, size=k)) for k in lens], dtype=object
    )


class _TextMaker:
    """Code-like texts over a Zipf-weighted shared vocabulary."""

    def __init__(self, rng: np.random.Generator, vocab_size: int = 6000):
        self.rng = rng
        self.vocab = _vocab(rng, vocab_size)
        w = 1.0 / np.arange(1, vocab_size + 1) ** 1.05
        self.p = w / w.sum()

    def tokens(self) -> list[str]:
        n = int(self.rng.integers(50, 140))
        return list(self.rng.choice(self.vocab, size=n, p=self.p))

    def render(self, toks: list[str]) -> str:
        lines, i = [], 0
        while i < len(toks):
            k = int(self.rng.integers(5, 11))
            lines.append(" ".join(toks[i : i + k]))
            i += k
        return "\n".join(lines) + "\n"

    def edit(self, toks: list[str], n_subs: int) -> list[str]:
        out = list(toks)
        for j in self.rng.choice(len(out), size=min(n_subs, len(out)), replace=False):
            out[j] = str(self.rng.choice(self.vocab))
        return out


class _FileEmitter:
    def __init__(self, rng: np.random.Generator, tag: str):
        self.rng, self.tag = rng, tag
        self.corpus = Corpus([], [])

    def emit(self, content: str, family: str | None) -> None:
        i = len(self.corpus.rows)
        r = int(self.rng.integers(0, 40))
        repo = f"org{r}/repo{r}"
        path = f"{self.tag}/src/m{i}.py"
        commit = hashlib.sha1(f"{repo}:{self.tag}:{i}".encode()).hexdigest()
        lang = LANGS[int(self.rng.integers(0, len(LANGS)))]
        self.corpus.rows.append((repo, path, commit, lang, content))
        self.corpus.family.append(family)


def _near_variants(tm: _TextMaker, em: _FileEmitter, base: list[str], fam: str, n: int):
    for _ in range(n):
        if tm.rng.random() < 0.1:
            subs = int(tm.rng.integers(10, 15))
        else:
            subs = int(tm.rng.integers(1, 5))
        em.emit(tm.render(tm.edit(base, subs)), fam)


def files_corpus(seed, n_files: int, tag: str = "base") -> Corpus:
    """Planted files corpus of ``n_files`` rows (module docstring).
    ``seed`` is anything ``numpy.random.default_rng`` takes."""
    rng = np.random.default_rng(seed)
    tm = _TextMaker(rng)
    em = _FileEmitter(rng, tag)
    corrupt = ["", " \n\t \n", "{}();\n"]
    for k in range(max(3, n_files // 50)):
        em.emit(corrupt[k % 3], None)
    fam = 0
    while len(em.corpus.rows) < 0.22 * n_files:
        fam += 1
        toks = tm.tokens()
        text = tm.render(toks)
        for _ in range(int(rng.integers(2, 6))):
            em.emit(text, f"{tag}-x{fam}")
    while len(em.corpus.rows) < 0.50 * n_files:
        fam += 1
        toks = tm.tokens()
        text = tm.render(toks)
        em.emit(text, f"{tag}-n{fam}")
        _near_variants(tm, em, toks, f"{tag}-n{fam}", int(rng.integers(1, 4)))
    while len(em.corpus.rows) < n_files:
        em.emit(tm.render(tm.tokens()), None)
    return em.corpus


def append_batch(seed: int, base: Corpus, n_files: int, touch_share: float = 0.4) -> Corpus:
    """A batch of ``n_files`` rows to append to ``base`` (module docstring).

    ``touch_share`` of the rows touch planted families of ``base``: half
    are exact copies of a family member, half are near edits of one (1-4
    token substitutions), each labelled with that family. The rest is a
    fresh files corpus (its own corrupt rows, families and singletons)
    over a vocabulary unrelated to the base's."""
    n_touch = int(round(touch_share * n_files))
    fresh = files_corpus([seed, 3], n_files - n_touch, tag="batch")
    rng = np.random.default_rng([seed, 4])
    tm = _TextMaker(rng, vocab_size=2000)
    em = _FileEmitter(rng, "touch")
    members = [i for i, fam in enumerate(base.family) if fam is not None]
    for i in rng.choice(members, size=n_touch, replace=False):
        content, fam = base.rows[i][4], base.family[i]
        if rng.random() < 0.5:
            em.emit(content, fam)
        else:
            em.emit(tm.render(tm.edit(content.split(), int(rng.integers(1, 5)))), fam)
    return Corpus(fresh.rows + em.corpus.rows, fresh.family + em.corpus.family)


@dataclass
class Entities:
    rows: list[tuple]
    entity: list[int]  # truth: entity id per row
    block_sizes: Counter  # rows per block key
    hot: list[str]  # planted over-cap block keys


def _typo(rng: np.random.Generator, s: str, n_edits: int) -> str:
    for _ in range(n_edits):
        i = int(rng.integers(1, len(s)))  # keep the first letter
        op = rng.integers(0, 3)
        c = str(rng.choice(_LETTERS))
        if op == 0:
            s = s[:i] + c + s[i + 1 :]
        elif op == 1 and len(s) > 4:
            s = s[:i] + s[i + 1 :]
        else:
            s = s[:i] + c + s[i:]
    return s


def entity_corpus(
    seed: int, n_rows: int, *, hot_blocks: int, hot_rows: int, block_rows: int = 30
) -> Entities:
    """Planted people table (module docstring)."""
    rng = np.random.default_rng([seed, 2])
    cities = [
        "".join(rng.choice(_SYLLABLES, size=3)).capitalize() for _ in range(200)
    ]
    n_cold_blocks = max(1, (n_rows - hot_blocks * hot_rows) // block_rows)
    keys = [f"b{j:05d}" for j in range(n_cold_blocks)]
    hot = [f"h{j}" for j in range(hot_blocks)]
    rows: list[tuple] = []
    entity: list[int] = []
    ent = 0

    def person(blk: str) -> None:
        nonlocal ent
        ent += 1
        name = (
            "".join(rng.choice(_SYLLABLES, size=int(rng.integers(2, 4)))).capitalize()
            + " "
            + "".join(rng.choice(_SYLLABLES, size=int(rng.integers(3, 5)))).capitalize()
        )
        city = cities[int(rng.integers(0, len(cities)))]
        year = int(rng.integers(1940, 2006))
        n_rec = int(rng.choice([1, 2, 3, 4], p=[0.5, 0.25, 0.15, 0.10]))
        for k in range(n_rec):
            if k == 0:
                nm, ct, yr = name, city, year
            else:
                edits = int(rng.choice([1, 2, 3], p=[0.75, 0.2, 0.05]))
                edits += int(edits == 3 and rng.random() < 0.5)
                nm = _typo(rng, name, edits)
                ct = city if rng.random() < 0.9 else cities[int(rng.integers(0, 200))]
                yr = year if rng.random() < 0.95 else year + 1
            rows.append((len(rows), blk, nm, ct, yr))
            entity.append(ent)

    for blk in hot:
        start = len(rows)
        while len(rows) - start < hot_rows:
            person(blk)
    while len(rows) < n_rows:
        person(keys[int(rng.integers(0, len(keys)))])
    return Entities(rows, entity, Counter(r[1] for r in rows), hot)


def predicted_pairs(block_sizes: Counter, hot: list[str], window: int) -> int:
    """Σ C(n_b, 2) over cold blocks plus, over each hot block, the
    sorted-neighbourhood pairs at every rank distance 1..window-1."""
    cold = sum(math.comb(n, 2) for b, n in block_sizes.items() if b not in hot)
    return cold + sum(
        max(0, block_sizes[b] - d) for b in hot for d in range(1, window)
    )


def pair_f1(pred: dict, truth: dict) -> float:
    """Pairwise F1 of a predicted clustering against planted truth.

    Both map item → label, None meaning a singleton. A pair is predicted
    (true) when both items share a predicted (truth) label."""
    def pairs(groups: Counter) -> int:
        return sum(math.comb(n, 2) for n in groups.values())

    p = Counter(v for v in pred.values() if v is not None)
    t = Counter(v for v in truth.values() if v is not None)
    both = Counter(
        (pv, truth.get(k)) for k, pv in pred.items()
        if pv is not None and truth.get(k) is not None
    )
    tp, n_pred, n_true = pairs(both), pairs(p), pairs(t)
    if n_pred == 0 or n_true == 0:
        return 0.0
    precision, recall = tp / n_pred, tp / n_true
    return 0.0 if tp == 0 else 2 * precision * recall / (precision + recall)
