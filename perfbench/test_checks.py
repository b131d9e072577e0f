"""Self-tests for the benchmark's output checks, at sf0.001.

    python3 -m pytest perfbench/test_checks.py -q

One Spark application runs kg_build and corpus_dedup once as a user
runs them and once layer by layer, as the traced run does. The clean
outputs of both must pass every check; each other test injects one fault
into a copy of a written table and asserts that the matching check
rejects it.
"""

from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
from pignlproc_spark.checkpoint import CheckpointManager  # noqa: E402
from spans import Tracer  # noqa: E402

SEED = 3


@pytest.fixture(scope="module")
def outputs(tmp_path_factory):
    work = tmp_path_factory.mktemp("perfbench")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(HERE.parent), os.environ.get("PYTHONPATH")) if p)
    with pytest.MonkeyPatch.context() as mp:
        for w in inputs.SCALE:
            mp.setitem(inputs.SCALE, w, 0.001)
        b = run.Bench("kg_build", SEED, False, work)
        b.start()
        try:
            ckpt = CheckpointManager(str(work / "ckpt"))
            assert run.drive(run.kg_build(b, work / "kg", ckpt)) == (list(checks.KG_TABLES), [])
            assert run.check_stages(b, ckpt) == []
            tr = Tracer(b.spark, b.jvm_pid)
            ckpt = CheckpointManager(str(work / "ckpt_traced"))
            assert run.drive(run.kg_traced(b, work / "kg_traced", tr, ckpt)) == (list(checks.KG_TABLES), [])
            assert run.check_stages(b, ckpt) == []
            sf_total = _sf_total_rows(b)
            b.workload = "corpus_dedup"
            assert run.drive(run.corpus_dedup(b, work / "dd")) == (checks.DEDUP_TABLES, [])
            assert run.drive(run.dedup_traced(b, work / "dd_traced", tr)) == (checks.DEDUP_TABLES, [])
        finally:
            b.stop()
        yield b.corpus, work, sf_total


def _sf_total_rows(b):
    """sf_total_counts rows from the program and from the traced run's
    copy of its final join, over the same mentions and article text."""
    from pignlproc_spark.operators import stats
    from pignlproc_spark.plans import pipeline

    arts = run.articles(run.parsed_pages(b))
    mentions = pipeline.mentions_from_fused(arts, b.redirects)
    annotated = stats.annotated_sf_counts(mentions)
    totals = stats.sf_occurrence_totals(arts.select("text"), stats.capped_surface_forms_ipc(annotated))
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    return rows(stats.sf_total_counts(mentions, arts.select("text"))), rows(run.sf_total_join(annotated, totals))


def _copy(work: Path, name: str, tmp_path: Path) -> Path:
    shutil.copytree(work / name, tmp_path / name)
    return tmp_path / name


def _mutate(table: Path, fn) -> None:
    """Rewrite the table's part files through ``fn`` (a pandas frame to
    a pandas frame); at least one file must change."""
    changed = False
    for f in sorted(table.rglob("part-*.parquet")):
        t = pq.read_table(f)
        before = t.to_pandas()
        after = fn(before.copy())
        if not after.equals(before):
            pq.write_table(pa.Table.from_pandas(after, schema=t.schema, preserve_index=False), f)
            changed = True
    assert changed, "fault not injected"


def _first_row_only(fn):
    done = []

    def apply(df):
        if done or df.empty:
            return df
        done.append(1)
        return fn(df)

    return apply


@pytest.mark.parametrize("kg,dd", [("kg", "dd"), ("kg_traced", "dd_traced")])
def test_clean_outputs_pass(outputs, kg, dd):
    corpus, work, _ = outputs
    for name in checks.KG_TABLES:
        assert checks.check_kg_table(work / kg, corpus, name) == []
    inp = checks.DedupInputs(corpus)
    assert inp.planted, "no planted pairs: the recall check would be vacuous"
    assert inp.tf_cosine, "no tf-cosine pairs: the recall check would be vacuous"
    for name in checks.DEDUP_TABLES:
        assert checks.check_dedup_table(work / dd, inp, name) == []


def test_traced_sf_total_join_matches_program(outputs):
    program, traced = outputs[2]
    assert program and traced == program


def test_dropped_triple_is_rejected(outputs, tmp_path):
    corpus, work, _ = outputs
    _mutate(_copy(work / "kg", "graph", tmp_path) / "triples", _first_row_only(lambda df: df.iloc[1:]))
    probs = checks.check_kg_table(tmp_path, corpus, "graph/triples")
    assert probs and "1 missing rows" in probs[1]


@pytest.mark.parametrize("name", [n for n in checks.KG_TABLES if n.startswith("stats/")])
def test_bumped_count_is_rejected(outputs, tmp_path, name):
    corpus, work, _ = outputs
    col = "total_cnt" if name == "stats/sf_total_counts" else "cnt"

    def bump(df):
        df.loc[df.index[0], col] += 1
        return df

    _mutate(_copy(work / "kg", "stats", tmp_path) / name.split("/")[1], _first_row_only(bump))
    assert checks.check_kg_table(tmp_path, corpus, name)


def test_removed_planted_pair_is_rejected(outputs, tmp_path):
    corpus, work, _ = outputs
    inp = checks.DedupInputs(corpus)
    a, b = inp.planted[0]
    table = _copy(work / "dd", "dedup", tmp_path) / "near_duplicates"
    _mutate(table, lambda df: df[~((df.id_a == a) & (df.id_b == b))])
    probs = checks.check_near_duplicates(tmp_path, inp)
    assert any("planted pairs missing" in p for p in probs)


def test_wrong_component_is_rejected(outputs, tmp_path):
    corpus, work, _ = outputs

    def shift(df):
        df.loc[df.index[0], "component_id"] += 1
        return df

    _mutate(_copy(work / "dd", "dedup", tmp_path) / "components", _first_row_only(shift))
    assert checks.check_components(tmp_path)


@pytest.mark.parametrize("fault", ["bump_dot", "repeat_pair", "swap_ids", "drop_pair"])
def test_wrong_tf_cosine_pair_is_rejected(outputs, tmp_path, fault):
    corpus, work, _ = outputs

    def inject(df):
        if fault == "bump_dot":
            df.loc[df.index[0], "dot"] += 1
            return df
        if fault == "repeat_pair":
            return df.iloc[[0] + list(range(len(df)))]
        if fault == "drop_pair":
            return df.iloc[1:]
        df.loc[df.index[0], ["id_a", "id_b"]] = df.loc[df.index[0], ["id_b", "id_a"]].values
        return df

    _mutate(_copy(work / "dd", "dedup", tmp_path) / "tf_cosine", _first_row_only(inject))
    assert checks.check_tf_cosine(tmp_path, checks.DedupInputs(corpus))
