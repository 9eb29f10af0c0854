"""Seeded input generators owned by the benchmark.

Every generator is a pure function of its seed and size. The engine under
test only ever sees the parquet files written here; the truth each check
needs (planted pairs, entity labels) is derived in plain Python from the
same seed, never from the engine's output.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

# Words of the sf documents table's vocabulary.
_WORDS = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data vector join customer the index shuffle cache plan node task "
    "stage graph edge token"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def documents(seed: int, n_docs: int, min_words: int = 10,
              max_words: int = 100) -> pd.DataFrame:
    """(doc_id, text, lang): lowercase single-spaced random-word documents,
    sized like the sf documents table (10-100 words, ~300 chars)."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(min_words, max_words + 1, n_docs)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    langs = rng.choice(_LANGS, n_docs, p=_LANG_P)
    return pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64),
                         "text": texts, "lang": langs})


def _token_set(text: str) -> set[str]:
    return set(text.split(" "))


def _near_dup(a: str, b: str, threshold_milli: int) -> bool:
    """Token-set Jaccard >= threshold, in the engine's integer form."""
    ta, tb = _token_set(a), _token_set(b)
    common = len(ta & tb)
    return common * 1000 >= threshold_milli * len(ta | tb)


def amplified_documents(seed: int, n_base: int, k: int,
                        threshold_milli: int) -> tuple[pd.DataFrame, set]:
    """Amplify ``n_base`` seeded documents into ``k`` variants each and
    return (docs, planted) where ``planted`` is the exact set of
    (id_a, id_b) pairs whose Jaccard reaches ``threshold_milli``.

    Variants 2j and 2j+1 form a pair: every third token (offset by j) is
    salted with a suffix unique to (seed, doc, pair), and the odd variant
    drops the text's first character, so exactly one token differs. The
    salt keeps every cross-pair and cross-doc Jaccard near 0.5, far below
    any near-dup threshold, so the planted pairs are the only matches;
    a pair whose document has too few distinct tokens to reach the
    threshold is not planted."""
    if k % 2:
        raise ValueError("k must be even: variants come in pairs")
    base = documents(seed, n_base)
    salt = hashlib.md5(str(seed).encode()).hexdigest()[:4]
    ids, texts, langs, planted = [], [], [], set()
    for doc_id, text, lang in base.itertuples(index=False):
        toks = text.split(" ")
        for j in range(0, k, 2):
            even = " ".join(
                f"{t}x{salt}{doc_id}_{j}" if (i + j) % 3 == 0 else t
                for i, t in enumerate(toks))
            odd = even[1:]
            a, b = doc_id * k + j, doc_id * k + j + 1
            ids += [a, b]
            texts += [even, odd]
            langs += [lang, lang]
            if _near_dup(even, odd, threshold_milli):
                planted.add((a, b))
    docs = pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64),
                         "text": texts, "lang": langs})
    return docs, planted
