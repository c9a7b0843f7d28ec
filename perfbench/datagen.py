"""Seeded input generator for the benchmark workloads.

Everything the workloads read is made here from ``--seed`` alone, with
numpy and pyarrow (no Spark), and written as ``<table>.parquet`` files in
the layout ``sources.catalog.read_table`` expects. The same seed gives
byte-identical tables.

``orders`` feeds the STAC ingest; its columns and value domains follow
the TPC-H-like test tables (keys, status, price, date, priority).
``embeddings`` feeds the traced run's vector-search queries.

``documents`` is a replicated corpus built so that replication keeps the
quality verdict mix. A base corpus is drawn first, with a designed share
of each quality-rule failure and of within-corpus near duplicates,
excerpts and patchwork (stale) documents. Each replica then permutes the
non-stopword vocabulary among words of EQUAL LENGTH: word count, word
lengths, stopwords and symbols are unchanged, so every quality rule
gives every replica the base corpus's verdicts, while the shingle
spaces of different replicas barely overlap. Finally a seeded share of
later-replica documents is overwritten with exact or one-word-edited
copies of earlier-replica documents (cross-replica duplicates). Only
quality-passing documents are copied or overwritten, so the per-replica
quality verdicts stay exact; near copies and excerpts are made of long
documents, and no document an injected one was built from is
overwritten, so every injected document is a duplicate the cascade
rejects.

:func:`make_documents` returns a ledger of what it built; the curation
workload checks the generated corpus against it (see ``workloads.py``).
"""

from __future__ import annotations

import os
import string
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# operators/text.py STOPWORDS; the quality rule counts these tokens
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.42, 0.15, 0.15, 0.14, 0.14)
N_SOURCES = 20
SYMBOL_TOKENS = ("#$%", "&*@", "$$$", "@#%")

# designed shares of the base corpus
QUALITY_SHARES = {
    "word_count": 0.02,  # 4..9 words
    "mean_wlen": 0.02,  # mostly 14..16-letter words
    "no_stopword": 0.03,
    "symbol_ratio": 0.02,  # every other token a symbol run: >10% of chars
}
NEAR_SHARE = 0.03  # copy of an earlier doc with one word replaced
EXCERPT_SHARE = 0.02  # leading 40-60% of an earlier doc
PATCHWORK_SHARE = 0.02  # four pieces of four earlier docs
CROSS_EXACT_SHARE = 0.02  # per later replica
CROSS_NEAR_SHARE = 0.02


@dataclass
class CorpusLedger:
    """What :func:`make_documents` built, for the generator's self-check."""

    n_docs: int
    n_base: int
    replicas: int
    quality: dict[str, int] = field(default_factory=dict)  # whole corpus
    quality_per_replica: int = 0  # quality rejects in each replica
    exact_copies: int = 0  # docs whose text equals an earlier doc's
    near_copies: int = 0
    excerpts: int = 0
    patchworks: int = 0
    # per doc_id: 'ok', a quality reason, or the injected kind ('near',
    # 'excerpt', 'patchwork', 'cross_exact', 'cross_near')
    kinds: list[str] = field(default_factory=list, repr=False)


def _vocabulary(rng: np.random.Generator) -> dict[int, list[str]]:
    """Distinct lowercase words grouped by length: 40 per length 3..9 for
    ordinary text, 12 per length 14..16 for the long-word class."""
    letters = np.array(list(string.ascii_lowercase))
    stop = set(STOPWORDS)
    by_len: dict[int, list[str]] = {}
    for length, n in [(k, 40) for k in range(3, 10)] + [(k, 12) for k in (14, 15, 16)]:
        words: set[str] = set()
        while len(words) < n:
            w = "".join(rng.choice(letters, size=length))
            if w not in stop:
                words.add(w)
        by_len[length] = sorted(words)
    return by_len


def _draw_words(rng, vocab: list[str], n: int, stop_rate: float) -> list[str]:
    out = []
    for _ in range(n):
        if stop_rate and rng.random() < stop_rate:
            out.append(STOPWORDS[rng.integers(len(STOPWORDS))])
        else:
            out.append(vocab[rng.integers(len(vocab))])
    return out


def _ensure_stopword(rng, words: list[str]) -> list[str]:
    if not any(w in STOPWORDS for w in words):
        words[rng.integers(len(words))] = "the"
    return words


def _base_corpus(rng, by_len, n: int) -> tuple[list[str], list[str], set[int]]:
    """Returns (texts, class per doc, source docs); class is a quality
    reason, 'ok' or an injected kind ('near', 'excerpt', 'patchwork', all
    quality-ok); the source docs are the plain docs the injected ones were
    built from."""
    plain = [w for k in range(3, 10) for w in by_len[k]]
    long_words = [w for k in (14, 15, 16) for w in by_len[k]]
    kinds = ["ok"] * n
    slots = rng.permutation(np.arange(n // 10, n))  # keep early docs plain
    pos = 0
    for kind, share in list(QUALITY_SHARES.items()) + [
        ("near", NEAR_SHARE),
        ("excerpt", EXCERPT_SHARE),
        ("patchwork", PATCHWORK_SHARE),
    ]:
        for i in slots[pos : pos + round(share * n)]:
            kinds[int(i)] = kind
        pos += round(share * n)

    texts: list[str] = []
    plain_ok: list[int] = []  # indices usable as copy sources
    used: set[int] = set()
    seen: set[str] = set()
    for i, kind in enumerate(kinds):
        while True:
            if kind == "ok":
                words = _ensure_stopword(
                    rng, _draw_words(rng, plain, int(rng.integers(12, 100)), 0.1)
                )
            elif kind == "word_count":
                words = _ensure_stopword(
                    rng, _draw_words(rng, plain, int(rng.integers(4, 10)), 0.1)
                )
            elif kind == "mean_wlen":
                words = _draw_words(rng, long_words, int(rng.integers(12, 40)), 0.0)
                words[rng.integers(len(words))] = "a"
            elif kind == "no_stopword":
                words = _draw_words(rng, plain, int(rng.integers(12, 60)), 0.0)
            elif kind == "symbol_ratio":
                words = _ensure_stopword(
                    rng, _draw_words(rng, plain, int(rng.integers(12, 60)), 0.1)
                )
                for j in range(0, len(words), 2):
                    if words[j] not in STOPWORDS:
                        words[j] = SYMBOL_TOKENS[rng.integers(len(SYMBOL_TOKENS))]
            else:
                words, src = _derived(rng, kind, [texts[j] for j in plain_ok], plain)
            text = " ".join(words)
            if text not in seen:
                break
        seen.add(text)
        texts.append(text)
        if kind == "ok":
            plain_ok.append(i)
        elif kind in ("near", "excerpt", "patchwork"):
            used.update(plain_ok[j] for j in src)
    return texts, kinds, used


def _derived(rng, kind: str, sources: list[str], plain: list[str]) -> tuple[list[str], list[int]]:
    """A quality-ok document built from earlier plain documents, and the
    positions in ``sources`` of the documents it was built from."""
    # near copies and excerpts come from long documents, whose shingle
    # sets one edit or a cut cannot move below the cascade's thresholds
    long_src = [j for j, s in enumerate(sources) if _is_long(s)] or list(
        range(len(sources))
    )
    if kind == "near":
        j = long_src[rng.integers(len(long_src))]
        return _replace_one(rng, sources[j].split(" "), plain), [j]
    if kind == "excerpt":
        j = long_src[rng.integers(len(long_src))]
        words = sources[j].split(" ")
        cut = max(12, int(len(words) * rng.uniform(0.4, 0.6)))
        return _ensure_stopword(rng, words[:cut]), [j]
    # patchwork: mostly 3-grams the corpus already has
    out: list[str] = []
    picked = []
    for _ in range(4):
        j = int(rng.integers(len(sources)))
        words = sources[j].split(" ")
        span = min(len(words), 12)
        start = int(rng.integers(0, len(words) - span + 1))
        out.extend(words[start : start + span])
        picked.append(j)
    return _ensure_stopword(rng, out), picked


def _is_long(text: str) -> bool:
    return text.count(" ") >= 40


def _replace_one(rng, words: list[str], plain: list[str]) -> list[str]:
    """Replace one non-stopword token by another word of the same length,
    which keeps every quality feature of the document."""
    words = list(words)
    idx = [j for j, w in enumerate(words) if w not in STOPWORDS]
    j = idx[rng.integers(len(idx))]
    same = [w for w in plain if len(w) == len(words[j]) and w != words[j]]
    words[j] = same[rng.integers(len(same))]
    return words


def _replica_map(rng, by_len) -> dict[str, str]:
    """A permutation of the vocabulary within each word-length class."""
    mapping = {}
    for words in by_len.values():
        for src, dst in zip(words, rng.permutation(words)):
            mapping[src] = str(dst)
    return mapping


def make_documents(seed: int, n_base: int, replicas: int) -> tuple[pa.Table, CorpusLedger]:
    rng = np.random.default_rng([seed, 1])
    by_len = _vocabulary(rng)
    plain = [w for k in range(3, 10) for w in by_len[k]]
    base, kinds, used = _base_corpus(rng, by_len, n_base)

    texts: list[str] = []
    for r in range(replicas):
        mapping = {} if r == 0 else _replica_map(rng, by_len)
        texts.extend(
            " ".join(mapping.get(w, w) for w in t.split(" ")) for t in base
        )
    all_kinds = kinds * replicas

    # cross-replica copies: overwrite plain quality-ok docs of replica r
    # with (edited) copies of plain quality-ok docs of replicas < r; the
    # docs that injected docs were built from are never overwritten, so
    # every injected doc keeps its source in its own replica
    ledger = CorpusLedger(n_docs=len(texts), n_base=n_base, replicas=replicas)
    plain_ok = [i for i, k in enumerate(kinds) if k == "ok"]
    long_ok = [i for i in plain_ok if _is_long(base[i])]
    free = [i for i in plain_ok if i not in used]
    seen = set(texts)
    for r in range(1, replicas):
        targets = rng.permutation(free)
        n_exact = round(CROSS_EXACT_SHARE * n_base)
        n_near = round(CROSS_NEAR_SHARE * n_base)
        for t, i in enumerate(targets[: n_exact + n_near]):
            dst = r * n_base + int(i)
            src_r = int(rng.integers(r))
            src = src_r * n_base + long_ok[rng.integers(len(long_ok))]
            if t < n_exact:
                texts[dst] = texts[src]
                all_kinds[dst] = "cross_exact"
            else:
                while True:
                    words = _replace_one(rng, texts[src].split(" "), plain)
                    if " ".join(words) not in seen:
                        break
                texts[dst] = " ".join(words)
                seen.add(texts[dst])
                all_kinds[dst] = "cross_near"

    for reason in QUALITY_SHARES:
        ledger.quality[reason] = all_kinds.count(reason)
    ledger.quality_per_replica = sum(kinds.count(q) for q in QUALITY_SHARES)
    ledger.exact_copies = all_kinds.count("cross_exact")
    ledger.near_copies = all_kinds.count("near") + all_kinds.count("cross_near")
    ledger.excerpts = all_kinds.count("excerpt")
    ledger.patchworks = all_kinds.count("patchwork")
    ledger.kinds = all_kinds

    n = len(texts)
    doc_id = np.arange(n, dtype=np.int64)
    table = pa.table(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(len(LANGS), size=n, p=LANG_P)],
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return table, ledger


def make_embeddings(seed: int, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    """Unit vectors with a weak per-label centre, like the test tables'
    ``embeddings`` (``vec_id``, float32 ``embedding``, ``label``)."""
    rng = np.random.default_rng([seed, 3])
    label = rng.integers(0, labels, size=n).astype(np.int32)
    centres = rng.normal(size=(labels, dim)) * 0.5
    vecs = rng.normal(size=(n, dim)) + centres[label]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": label,
        }
    )


def make_orders(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    start = np.datetime64("1995-01-01", "D")
    days = (np.datetime64("2001-08-01", "D") - start).astype(int)
    dates = (start + rng.integers(0, days + 1, size=n)).astype("datetime64[us]")
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, max(1, n // 10), size=n, dtype=np.int64),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), size=n),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, size=n), 2),
            "o_orderdate": pa.array(dates, type=pa.timestamp("us")),
            "o_orderpriority": rng.choice(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
                size=n,
            ),
        }
    )


def write_placeholders(data_dir: str, tables: tuple[str, ...]) -> None:
    """Write an empty one-column file for each table a workload does not
    read: the DuckDB oracle binds a view over every catalog table."""
    for name in tables:
        if not os.path.exists(os.path.join(data_dir, f"{name}.parquet")):
            write_table(pa.table({"unused": pa.array([], pa.int64())}), data_dir, name)


def write_table(table: pa.Table, data_dir: str, name: str) -> tuple[int, int]:
    """Write ``<data_dir>/<name>.parquet``; returns (rows, bytes)."""
    os.makedirs(data_dir, exist_ok=True)
    path = os.path.join(data_dir, f"{name}.parquet")
    pq.write_table(table, path)
    return table.num_rows, os.path.getsize(path)
