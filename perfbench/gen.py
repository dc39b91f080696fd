"""Seeded input generators for the benchmark.

Everything here is plain numpy and depends only on the seed it is given, so
one seed always yields byte-identical inputs. This module must not import
``vectorchord_spark``: the program under test receives only what these
functions produce.
"""

from __future__ import annotations

import hashlib

import numpy as np

DIM = 96
#: Gaussian-mixture components of :func:`vectors`
CLUSTERS = 64
#: words per language in :func:`corpus`
VOCAB = 4000

#: corpus languages and their shares; ``es`` is generated but not allowed
#: by the curate config, so the language stage has work to do
LANGS = ("en", "de", "fr", "es")
LANG_P = (0.45, 0.2, 0.2, 0.15)
ALLOWED_LANGS = ("en", "de", "fr")

_SYLLABLES = {
    "en": ["th", "an", "er", "on", "re", "in", "ed", "nd", "ha", "at", "en", "es"],
    "de": ["ch", "ei", "ie", "sch", "un", "ge", "en", "er", "st", "au", "ng", "ra"],
    "fr": ["ou", "qu", "ai", "eu", "le", "es", "ent", "on", "de", "re", "oi", "ll"],
    "es": ["ar", "os", "as", "ci", "ue", "la", "do", "ra", "ll", "en", "ta", "mo"],
}


def vectors(seed: int, n: int) -> np.ndarray:
    """``n`` float32 vectors of ``DIM`` dimensions from a Gaussian mixture
    with uneven cluster sizes (cluster ``c`` has weight ∝ 1/(c+1)), row
    ``i`` having id ``i``."""
    rng = np.random.default_rng([seed, 1])
    w = 1.0 / np.arange(1, CLUSTERS + 1)
    labels = rng.choice(CLUSTERS, size=n, p=w / w.sum())
    centres = rng.standard_normal((CLUSTERS, DIM)) * 2.0
    spread = rng.uniform(0.5, 1.5, CLUSTERS)
    noise = rng.standard_normal((n, DIM)) * spread[labels, None]
    return (centres[labels] + noise).astype(np.float32)


def queries(seed: int, base: np.ndarray, m: int, stream: int = 2) -> np.ndarray:
    """``m`` float64 queries near random rows of ``base``. Every coordinate
    is a whole number of 1e-4, so a query written as a SQL literal parses
    back to the same doubles."""
    rng = np.random.default_rng([seed, stream])
    pick = rng.integers(0, len(base), m)
    q = base[pick].astype(np.float64) + 0.3 * rng.standard_normal((m, base.shape[1]))
    return np.rint(q * 1e4) / 1e4


def _vocabulary(rng: np.random.Generator, lang: str) -> np.ndarray:
    syl = _SYLLABLES[lang]
    words: set[str] = set()
    while len(words) < VOCAB:
        k = int(rng.integers(1, 5))
        words.add("".join(syl[int(i)] for i in rng.integers(0, len(syl), k)))
    return np.array(sorted(words))


def corpus(seed: int, n_docs: int) -> dict:
    """A document corpus with planted defects.

    Returns ``doc_id`` (int64, shuffled), ``text``, ``lang`` and the planted
    structure the oracle checks against:

    - ``exact_groups``: lists of ids sharing one text (an original and its
      exact copies);
    - ``near_pairs``: (original id, copy id) pairs differing in one word;
    - ``short``: ids of documents under 10 words.

    Words are Zipf-distributed over a per-language vocabulary; ordinary
    documents have 10-400 words, log-uniformly, short ones 5-9.
    """
    rng = np.random.default_rng([seed, 3])
    vocabs = {lang: _vocabulary(rng, lang) for lang in LANGS}
    ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
    zipf_p = 1.0 / ranks**1.05
    zipf_p /= zipf_p.sum()

    n_exact = n_docs // 20
    n_near = n_docs // 20
    n_spam = n_docs // 33
    n_short = n_docs // 25
    n_base = n_docs - n_exact - n_near - n_spam - n_short

    texts: list[str] = []
    langs: list[str] = []

    def doc(lang: str, n_words: int) -> str:
        return " ".join(vocabs[lang][rng.choice(VOCAB, n_words, p=zipf_p)])

    base_lang = rng.choice(len(LANGS), n_base, p=LANG_P)
    for li in base_lang:
        lang = LANGS[int(li)]
        texts.append(doc(lang, int(np.exp(rng.uniform(np.log(10), np.log(401))))))
        langs.append(lang)

    exact_src = rng.choice(n_base, n_exact, replace=True)
    for s in exact_src:
        texts.append(texts[int(s)])
        langs.append(langs[int(s)])
    near_src = rng.choice(n_base, n_near, replace=False)
    for s in near_src:
        words = texts[int(s)].split(" ")
        pos = int(rng.integers(0, len(words)))
        vocab_l = vocabs[langs[int(s)]]
        new = words[pos]
        while new == words[pos]:
            new = str(vocab_l[int(rng.integers(0, VOCAB))])
        words[pos] = new
        texts.append(" ".join(words))
        langs.append(langs[int(s)])
    for _ in range(n_spam):
        lang = LANGS[int(rng.integers(0, len(ALLOWED_LANGS)))]
        phrase = doc(lang, int(rng.integers(2, 5)))
        texts.append(" ".join([phrase] * int(rng.integers(15, 60))))
        langs.append(lang)
    for _ in range(n_short):
        lang = LANGS[int(rng.integers(0, len(ALLOWED_LANGS)))]
        texts.append(doc(lang, int(rng.integers(5, 10))))
        langs.append(lang)

    # shuffled ids: a copy is as likely to get the smaller id as its source
    ids = rng.permutation(len(texts)).astype(np.int64)
    groups: dict[int, list[int]] = {}
    for j, s in enumerate(exact_src):
        groups.setdefault(int(s), [int(ids[int(s)])]).append(int(ids[n_base + j]))
    off = n_base + n_exact
    near_pairs = [(int(ids[int(s)]), int(ids[off + j])) for j, s in enumerate(near_src)]
    return {
        "doc_id": ids,
        "text": texts,
        "lang": langs,
        "exact_groups": list(groups.values()),
        "near_pairs": near_pairs,
        "short": [int(i) for i in ids[off + n_near + n_spam :]],
    }


def digest(*parts) -> str:
    """sha256 over numpy arrays and string lists, in order — equal digests
    mean two runs used identical inputs."""
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, np.ndarray):
            h.update(str((p.dtype.str, p.shape)).encode())
            h.update(np.ascontiguousarray(p).tobytes())
        else:
            for s in p:
                h.update(str(s).encode())
                h.update(b"\0")
    return h.hexdigest()[:16]
