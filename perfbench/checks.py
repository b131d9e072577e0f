"""Output checks computed apart from the program.

Written tables are read back with pyarrow, never with Spark. The KG
tables are compared as multisets with the generator's goldens, which
``synth`` computes from the page plan rather than by running the
extractor. Dedup pairs are recounted with the Python tokenizer spec and
components are recomputed with a union-find. Each check returns a list
of problems; an empty list means the table is correct.
"""

from __future__ import annotations

import json
from collections import Counter
from pathlib import Path

import pyarrow.dataset as ds
import pyarrow.parquet as pq

# written table -> (golden table, columns compared)
KG_TABLES = {
    "graph/triples": ("golden_triples", ["subj", "pred", "obj", "weight"]),
    "stats/pair_counts": ("golden_pair_counts", ["surface_form", "uri", "cnt"]),
    "stats/uri_counts": ("golden_uri_counts", ["uri", "cnt"]),
    "stats/sf_total_counts": ("golden_sf_total_counts", ["surface_form", "annotated_cnt", "total_cnt"]),
    "stats/token_counts": ("golden_token_counts", ["uri", "token", "cnt"]),
}
DEDUP_TABLES = ["dedup/near_duplicates", "dedup/components", "dedup/tf_cosine"]
MIN_JACCARD_PCT = 50
MIN_COS_PCT = 50
TF_COS_MAX_DF = 200  # posting-list cap of the tf-cosine candidate join


def read_rows(path: Path, cols: list[str]) -> list[tuple]:
    """Rows of a written parquet table (hive partition columns included)."""
    table = ds.dataset(str(path), format="parquet", partitioning="hive").to_table(columns=cols)
    return list(zip(*(table.column(c).to_pylist() for c in cols)))


def _multiset_diff(got: list[tuple], want: list[tuple], limit: int = 3) -> list[str]:
    g, w = Counter(got), Counter(want)
    if g == w:
        return []
    extra, missing = g - w, w - g
    return [
        f"{sum(extra.values())} unexpected rows, e.g. {list(extra)[:limit]}",
        f"{sum(missing.values())} missing rows, e.g. {list(missing)[:limit]}",
    ]


def check_kg_table(out: Path, corpus: Path, name: str) -> list[str]:
    golden, cols = KG_TABLES[name]
    want = list(zip(*(pq.read_table(corpus / f"{golden}.parquet", columns=cols).column(c).to_pylist() for c in cols)))
    return [f"{name}: {p}" for p in _multiset_diff(read_rows(out / name, cols), want)]


class DedupInputs:
    """Token multisets of the documents and the planted pairs."""

    def __init__(self, corpus: Path):
        from pignlproc_spark.functions.tokenize import tokenize

        docs = pq.read_table(corpus / "docs.parquet")
        self.tf = {
            i: Counter(tokenize(t, stopwords=None))
            for i, t in zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist())
        }
        self.planted = [tuple(p) for p in json.loads((corpus / "planted.json").read_text())]
        # the recomputation takes seconds, so it is kept beside the corpus
        cache = corpus / f"tf_cosine_df{TF_COS_MAX_DF}_pct{MIN_COS_PCT}.json"
        if not cache.exists():
            cache.write_text(json.dumps(expected_tf_cosine(self.tf, TF_COS_MAX_DF, MIN_COS_PCT)))
        self.tf_cosine = [tuple(r) for r in json.loads(cache.read_text())]


def _pair_problems(rows: list[tuple], name: str) -> list[str]:
    out = []
    keys = [r[:2] for r in rows]
    bad_order = [k for k in keys if not k[0] < k[1]]
    if bad_order:
        out.append(f"{name}: {len(bad_order)} pairs without id_a < id_b, e.g. {bad_order[:3]}")
    dup = [k for k, n in Counter(keys).items() if n > 1]
    if dup:
        out.append(f"{name}: {len(dup)} repeated pairs, e.g. {dup[:3]}")
    return out


def check_near_duplicates(out: Path, inp: DedupInputs) -> list[str]:
    name = "dedup/near_duplicates"
    rows = read_rows(out / name, ["id_a", "id_b", "inter_cnt", "union_cnt"])
    probs = _pair_problems(rows, name)
    wrong = []
    for a, b, inter, union in rows:
        sa, sb = set(inp.tf[a]), set(inp.tf[b])
        ok = (inter, union) == (len(sa & sb), len(sa | sb)) and inter * 100 >= union * MIN_JACCARD_PCT
        if not ok:
            wrong.append((a, b, inter, union))
    if wrong:
        probs.append(f"{name}: {len(wrong)} pairs with wrong counts or below threshold, e.g. {wrong[:3]}")
    found = {(a, b) for a, b, _, _ in rows}
    missed = [p for p in inp.planted if p not in found]
    if missed:
        probs.append(f"{name}: {len(missed)} of {len(inp.planted)} planted pairs missing, e.g. {missed[:3]}")
    return probs


def check_components(out: Path) -> list[str]:
    name = "dedup/components"
    pairs = read_rows(out / "dedup/near_duplicates", ["id_a", "id_b"])
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # root = smallest member
    want = [(x, find(x)) for x in parent]
    got = read_rows(out / name, ["doc_id", "component_id"])
    return [f"{name}: {p}" for p in _multiset_diff(got, want)]


def expected_tf_cosine(tf: dict[int, Counter], max_df: int, min_cos_pct: int) -> list[tuple]:
    """(id_a, id_b, dot, norm_a, norm_b) of every pair that shares a
    token held by at most ``max_df`` documents and whose tf-vector cosine
    is at least ``min_cos_pct`` / 100: the pair set ``tf_cosine_pairs``
    documents for its ``max_df`` cap, recomputed over full vectors."""
    postings: dict[str, list[int]] = {}
    for i in sorted(tf):
        for tok in tf[i]:
            postings.setdefault(tok, []).append(i)
    cands = set()
    for ids in postings.values():
        if len(ids) <= max_df:
            cands.update((a, b) for k, a in enumerate(ids) for b in ids[k + 1 :])
    norm = {i: sum(n * n for n in c.values()) for i, c in tf.items()}
    out = []
    for a, b in cands:
        small, big = sorted((tf[a], tf[b]), key=len)
        dot = sum(n * big[t] for t, n in small.items() if t in big)
        if dot > 0 and 10000 * dot * dot >= min_cos_pct**2 * norm[a] * norm[b]:
            out.append((a, b, dot, norm[a], norm[b]))
    return out


def check_tf_cosine(out: Path, inp: DedupInputs) -> list[str]:
    """The written pairs must equal, as a multiset, the pairs recomputed
    by ``expected_tf_cosine``: no pair missing, none extra or repeated,
    every dot and norm exact."""
    name = "dedup/tf_cosine"
    rows = read_rows(out / name, ["id_a", "id_b", "dot", "norm_a", "norm_b"])
    return _pair_problems(rows, name) + [f"{name}: {p}" for p in _multiset_diff(rows, inp.tf_cosine)]


def check_dedup_table(out: Path, inp: DedupInputs, name: str) -> list[str]:
    if name == "dedup/near_duplicates":
        return check_near_duplicates(out, inp)
    if name == "dedup/components":
        return check_components(out)
    return check_tf_cosine(out, inp)
