"""Seeded benchmark inputs, built outside every timed region.

The KG workloads read the synthetic page corpus (``synth.generate``)
generated with ``synth.SEED`` set to the benchmark seed. The dedup
workload reads a documents table made from the same corpus's article
text plus planted near-duplicate copies. Everything is cached per seed
under ``perfbench/.cache/seed<n>/`` and rebuilt only when missing.
"""

from __future__ import annotations

import hashlib
import json
import random
from pathlib import Path

# scale factor per workload; sf1 is 500,000 pages
SCALE = {"kg_build": 0.05, "corpus_dedup": 0.01}
PLANT_SHARE = 0.02  # share of documents that get one planted copy
EDIT_RATE = 0.10  # share of a copy's tokens replaced by another word
MIN_TOKENS = 12  # shortest document a copy is planted for
SHINGLE_N = 3  # the minhash shingle width the copies are built against

CACHE = Path(__file__).resolve().parent / ".cache"


def prepare(seed: int, sf: float) -> Path:
    """Generate (or reuse) the seed's corpus at ``sf`` and its dedup
    documents."""
    from pignlproc_spark import synth

    out = synth.synth_dir(sf, CACHE / f"seed{seed}")
    marker = out / "_DOCS"
    if marker.exists() and marker.read_text() == synth.GEN_VERSION:
        return out
    default = synth.SEED
    synth.SEED = seed  # every corpus RNG derives from this module value
    try:
        synth.generate(sf, root=CACHE / f"seed{seed}", force=True)
    finally:
        synth.SEED = default
    _write_docs(seed, out)
    marker.write_text(synth.GEN_VERSION)
    return out


def _lane0(shingle: str) -> str:
    # band 0 of dedup.minhash_signatures hashes a shingle to the first
    # 32-bit hex lane of its md5; the band's signature is the minimum
    return hashlib.md5(shingle.encode("utf-8")).hexdigest()[:8]


def _shingles(toks: list[str]) -> list[str]:
    return [" ".join(toks[i : i + SHINGLE_N]) for i in range(len(toks) - SHINGLE_N + 1)]


def plant_copy(toks: list[str], rng: random.Random, vocab: list[str]) -> list[str] | None:
    """An edited copy of ``toks`` that any correct LSH + Jaccard ≥ 0.5
    verify must pair with the original: about EDIT_RATE of the tokens
    are replaced, the shingle holding the band-0 min-hash is left
    intact, no new shingle hashes below it, and the token-set Jaccard
    stays ≥ 0.6. Returns None when no such copy is found."""
    hashes = [_lane0(s) for s in _shingles(toks)]
    base = min(hashes)
    keep = hashes.index(base)
    free = [i for i in range(len(toks)) if not keep <= i < keep + SHINGLE_N]
    k = max(1, round(EDIT_RATE * len(toks)))
    for _ in range(50):
        new = list(toks)
        for i in rng.sample(free, min(k, len(free))):
            new[i] = rng.choice([w for w in vocab if w != toks[i]])
        a, b = set(toks), set(new)
        if min(_lane0(s) for s in _shingles(new)) == base and len(a & b) * 10 >= len(a | b) * 6:
            return new
    return None


def _write_docs(seed: int, out: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pignlproc_spark import synth
    from pignlproc_spark.functions.tokenize import tokenize

    pages = pq.read_table(out / "pages.parquet", columns=["text"]).column("text").to_pylist()
    texts = [t for t in pages if t]
    rng = random.Random(f"perfbench:{seed}:plant")
    eligible = [i for i, t in enumerate(texts) if len(tokenize(t, stopwords=None)) >= MIN_TOKENS]
    chosen = sorted(rng.sample(eligible, round(PLANT_SHARE * len(texts))))
    copies, planted = [], []
    for i in chosen:
        new = plant_copy(tokenize(texts[i], stopwords=None), rng, synth.VOCAB)
        if new is not None:
            planted.append((i, len(texts) + len(copies)))
            copies.append(" ".join(new))
    docs = texts + copies
    table = pa.table({"doc_id": pa.array(range(len(docs)), pa.int64()), "text": pa.array(docs, pa.string())})
    # small row groups: the scan splits into parallel tasks, like pages
    pq.write_table(table, out / "docs.parquet", row_group_size=2000)
    (out / "planted.json").write_text(json.dumps(planted))
