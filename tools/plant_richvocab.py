"""Deterministic rich-vocabulary documents corpus (round-9 verdict ask
#4): the fixture corpus has only 31 DISTINCT whitespace tokens at every
SF (CLAUDE.md, measured), which leaves several vocabulary-sensitive
operators structurally marginal — `text_bpe_merge_step`'s merge
candidates rank a 31x31-bounded pair table, `text_vocab_oov_rate` only
bites because its cut is 16 < 31, BM25's idf spread collapses when every
query term has near-equal df, and DSIR's trigram ratios flatten when all
langs share one tiny vocabulary. Real corpora grow vocabulary with size
(Heaps' law); this plants one, seed-fixed (the tools/plant_x64.py
discipline: synthesized, reproducible, ids outside every fixture
keyspace).

Corpus shape (all from one seeded PRNG, no wall-clock anywhere):
* ``n_vocab`` unique lowercase syllable words + the 4 fixed BM25 query
  terms ('dup', 'scan', 'join', 'hash') inserted at frequency ranks
  5/60/400/1200 so their document frequencies differ by orders of
  magnitude (idf spread is real, not incidental).
* Zipf(1.1) token sampling; per-LANG rotation of the rank order ('en'
  identity, 'de' +1/3, 'fr' +2/3 of the vocabulary) so trigram
  distributions are lang-correlated and DSIR's target-vs-source ratios
  carry signal.
* 8 sources with a per-source rank offset so OOV rates differ by
  source; doc lengths 20-120 tokens.

Usage:
    python tools/plant_richvocab.py [base_sf_dir] [out_dir]
        # default: /root/testdata/sf0.01 -> /tmp/richvocab
    SPARK_GRAFT_ORACLE_SF_DIR=/tmp/richvocab \
        python tools/check_oracles.py text_bpe_merge_step ...

Non-documents tables hardlink from the base fixture; the documents
table is REPLACED (the point is to re-run the text operators' full
DuckDB parity on text with a real vocabulary). pytest non-vacuity pins
live in tests/test_text_richvocab.py and call ``build`` directly.
"""

from __future__ import annotations

import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from distgrep_spark.sources import catalog

# Every fixture table except the documents table this tool replaces.
TABLES = [t for t in catalog.TABLES if t != "documents"]

# BM25's fixed query vocabulary (queries/llm.py _BM25_QT) pinned at
# spread ranks — rank ~5 is near-stopword-common, rank ~1200 is rare.
_PINNED = [(5, "dup"), (60, "scan"), (400, "join"), (1200, "hash")]

_SYL = [
    "ba", "ce", "di", "fo", "gu", "ha", "ki", "lo", "mu", "na",
    "pe", "qi", "ro", "su", "ta", "ve", "wo", "xy", "za", "thr",
    "pl", "str", "cra", "int", "ous", "ing", "est", "ora", "uni", "lex",
]


def make_vocab(n_vocab: int, rng: random.Random) -> list[str]:
    """``n_vocab`` unique syllable words, pinned BM25 terms spliced in at
    their target ranks. Deterministic for a given (n_vocab, seed)."""
    words: list[str] = []
    seen = set(t for _, t in _PINNED)
    while len(words) < n_vocab - len(_PINNED):
        w = "".join(rng.choice(_SYL) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    for rank, term in sorted(_PINNED):
        words.insert(min(rank, len(words)), term)
    return words


def build(
    out: str,
    base_dir: str = "/root/testdata/sf0.01",
    *,
    n_docs: int = 4000,
    n_vocab: int = 4096,
    seed: int = 20260816,
) -> str:
    """Write the rich-vocabulary corpus to ``out`` (documents replaced,
    other tables hardlinked from ``base_dir``). Returns ``out``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    vocab = make_vocab(n_vocab, rng)
    n = len(vocab)
    weights = [1.0 / (r + 2.7) ** 1.1 for r in range(n)]
    langs = ["en", "en", "en", "de", "fr"]  # 60/20/20
    lang_off = {"en": 0, "de": n // 3, "fr": (2 * n) // 3}

    doc_ids, texts, lang_col, src_col, nchars = [], [], [], [], []
    for i in range(n_docs):
        lang = langs[i % len(langs)]
        source = f"src{i % 8}"
        # lang rotation + a small per-source shift: distinct-but-
        # overlapping token distributions per (lang, source)
        off = (lang_off[lang] + (i % 8) * 17) % n
        length = rng.randint(20, 120)
        ranks = rng.choices(range(n), weights=weights, k=length)
        toks = [vocab[(r + off) % n] for r in ranks]
        if i % 5 < 2:  # 40% of docs carry the collocation
            # A fixed 4-token COLLOCATION (real language has them; pure
            # Zipf sampling does not): its pair counts dominate the
            # incidental bigrams, so an iterative BPE trainer's later
            # merges must select FUSED symbols ((p1+p2, p3), ...) — the
            # property that distinguishes the training loop from a
            # static pair count (tests/test_text_richvocab.py pins it).
            pos = rng.randrange(len(toks) + 1)
            toks[pos:pos] = ["quorth", "blivet", "snarfle", "grackle"]
        text = " ".join(toks)
        doc_ids.append(7_000_000_000 + i)
        texts.append(text)
        lang_col.append(lang)
        src_col.append(source)
        nchars.append(len(text))

    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        _link_tree(f"{base_dir}/{t}.parquet", f"{out}/{t}.parquet")
    ddir = f"{out}/documents.parquet"
    os.makedirs(ddir, exist_ok=True)
    for stale in os.listdir(ddir):
        os.unlink(os.path.join(ddir, stale))
    tbl = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang_col, pa.string()),
            "source": pa.array(src_col, pa.string()),
            "n_chars": pa.array(nchars, pa.int64()),
        }
    )
    pq.write_table(tbl, f"{ddir}/part-richvocab.parquet")
    return out


def _link_tree(src: str, dst: str) -> None:
    """Hardlink a table that is either a single parquet file (the
    /root/testdata fixtures) or a directory of part files (the /tmp
    key-shifted corpora)."""
    if os.path.isfile(src):
        if not os.path.exists(dst):
            os.link(src, dst)
        return
    os.makedirs(dst, exist_ok=True)
    for name in os.listdir(src):
        s, d = os.path.join(src, name), os.path.join(dst, name)
        if os.path.isdir(s):
            _link_tree(s, d)
        elif not os.path.exists(d):
            os.link(s, d)


if __name__ == "__main__":
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/richvocab"
    build(out, base)
    print(f"rich-vocabulary corpus -> {out} (documents replaced; "
          f"other tables hardlinked from {base})")
