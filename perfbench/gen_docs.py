"""Seeded document-table generator for the corpus build, plus the
plain-Python reference for the build's funnel counts.

The table has the schema of the engine's ``documents`` table
(``doc_id bigint, text string, lang string, source string,
n_chars bigint``) and the duplicate structure the corpus build exists
to remove:

- base documents: random token sequences over a small vocabulary;
- exact duplicates: a base text under a new ``doc_id``, with case and
  whitespace changes the fingerprint normalises away;
- near duplicates: a base text with one token replaced (word-trigram
  Jaccard well above the 0.8 threshold), sometimes chained;
- gate rejects: too-short documents and bigram-repetitive ones.

``doc_id``\\ s are a seeded permutation, so which copy of a cluster
survives (the minimum id) moves with the seed.
"""

from __future__ import annotations

import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark table query scan join hash sort merge group filter window "
    "stream batch column row value key data part order customer vector "
    "line agg fast slow big small index shard cache page block commit "
    "snapshot region market supply price level graph node edge rank "
    "token text corpus model train split learn"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def _tokens(text: str) -> list[str]:
    return text.strip().lower().split()


def passes_gate(text: str) -> bool:
    """``operators.text.gopher_quality``'s pass flag in plain Python."""
    toks = _tokens(text)
    n = len(toks)
    n_ch = len(re.sub(r"\s+", "", text.strip().lower()))
    mwl = n_ch / max(n, 1)
    bigrams = [(toks[i], toks[i + 1]) for i in range(n - 1)]
    if bigrams:
        counts: dict = {}
        for b in bigrams:
            counts[b] = counts.get(b, 0) + 1
        frac = max(counts.values()) / len(bigrams)
    else:
        frac = 0.0
    return 5 <= n <= 10000 and 2 <= mwl <= 12 and frac <= 0.2


def _shingles(text: str) -> set[str]:
    t = _tokens(text)
    return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}


def expected_funnel(rows: list[tuple], threshold: float = 0.8) -> dict[str, int]:
    """Funnel counts the corpus build must report, computed without
    Spark: gate, exact dedup on the normalised text, then connected
    components over word-trigram Jaccard >= ``threshold``."""
    gated = [(i, t) for i, t, *_ in rows if passes_gate(t)]
    seen: dict[str, int] = {}
    for doc_id, text in gated:
        fp = " ".join(_tokens(text))
        if fp not in seen or doc_id < seen[fp]:
            seen[fp] = doc_id
    exact = {doc_id: text for doc_id, text in gated if seen[" ".join(_tokens(text))] == doc_id}

    sh = {i: _shingles(t) for i, t in exact.items()}
    index: dict[str, list[int]] = {}
    for i, s in sh.items():
        for g in s:
            index.setdefault(g, []).append(i)
    parent = {i: i for i in exact}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    checked = set()
    for ids in index.values():
        for a_pos, a in enumerate(ids):
            for b in ids[a_pos + 1 :]:
                pair = (a, b) if a < b else (b, a)
                if pair in checked:
                    continue
                checked.add(pair)
                sa, sb = sh[a], sh[b]
                inter = len(sa & sb)
                if inter / (len(sa) + len(sb) - inter) >= threshold:
                    parent[find(a)] = find(b)
    return {
        "raw": len(rows),
        "quality_gated": len(gated),
        "exact_deduped": len(exact),
        "near_deduped": len({find(i) for i in exact}),
    }


def generate(path: str, *, seed: int, n_docs: int) -> list[tuple]:
    """Write ``n_docs`` documents as one parquet file at ``path``;
    returns the rows written."""
    rng = random.Random(seed)
    n_exact = n_docs // 25
    n_near = n_docs // 12
    n_reject = n_docs // 40
    n_base = n_docs - n_exact - n_near - n_reject

    texts: list[str] = []
    for _ in range(n_base):
        texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(45, 90))))
    for _ in range(n_exact):
        words = rng.choice(texts[:n_base]).split()
        text = "  ".join(words) if rng.random() < 0.5 else " ".join(words).upper()
        texts.append(text)
    for _ in range(n_near):
        words = rng.choice(texts).split()  # may pick a near-dup: chains
        pos = rng.randrange(len(words))
        words[pos] = rng.choice([w for w in VOCAB if w != words[pos].lower()])
        texts.append(" ".join(words))
    for k in range(n_reject):
        if k % 2:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(3)))
        else:
            a, b = rng.sample(VOCAB, 2)
            texts.append(" ".join([a, b] * rng.randint(10, 30)))

    ids = rng.sample(range(10 * n_docs), n_docs)
    rows = [
        (
            ids[k],
            text,
            rng.choice(LANGS),
            f"src{rng.randrange(20)}",
            len(text),
        )
        for k, text in enumerate(texts)
    ]
    table = pa.Table.from_pylist(
        [dict(zip(SCHEMA.names, r)) for r in rows], schema=SCHEMA
    )
    pq.write_table(table, path)
    return rows
