"""Per-layer KG-construction benchmark (see README.md).

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 5 --trace 0

Run from the repository root. Each run is a fresh Spark application at
``local[N]``, N = min(4, usable cores), with the program's own session
defaults otherwise. The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
``end_to_end`` metrics of ``BENCHMARK.json`` with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

import pyarrow.parquet as pq

import checks
import inputs
import procs
from spans import Tracer, fold_event_log

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORKLOADS = ("kg_build", "corpus_dedup")
MB = 1024 * 1024
KG_LAYERS = ("extract", "mentions", "sf_dict", "ngrams", "counts", "triples", "tables", "checkpoint")
DEDUP_LAYERS = ("dedup.minhash", "dedup.lsh", "dedup.jaccard", "dedup.components", "dedup.tf_cosine")
FOLDED = ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "tasks", "task_retries")


class Bench:
    """One Spark application over one seed's inputs."""

    def __init__(self, workload: str, seed: int, trace: bool, work: Path):
        self.workload, self.seed, self.trace, self.work = workload, seed, trace, work
        t = time.time()
        self.corpus = inputs.prepare(seed, inputs.SCALE[workload])
        self.prep_s = time.time() - t

    def start(self) -> None:
        """Start the session and fork the Python workers."""
        from pyspark.sql import functions as F

        from pignlproc_spark.session import get_session

        self.cpus = min(4, len(os.sched_getaffinity(0)))
        conf = {}
        if self.trace:
            (self.work / "events").mkdir(parents=True)
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(self.work / "events"),
                "spark.eventLog.compress": "false",
            }
        self.spark = get_session(app_name=f"perfbench-{self.workload}", cpus=self.cpus, extra_conf=conf)
        noop = F.pandas_udf(lambda s: s, "long")
        self.spark.range(0, self.cpus * 1000, 1, self.cpus).select(F.sum(noop("id"))).collect()
        self.jvm_pid = int(self.spark.sparkContext._jvm.ProcessHandle.current().pid())
        read = self.spark.read.parquet
        self.pages = read(str(self.corpus / "pages.parquet"))
        self.redirects = read(str(self.corpus / "redirects.parquet"))
        self.docs = read(str(self.corpus / "docs.parquet"))
        self.source_id = f"perfbench:seed{self.seed}"

    def shuffle_bytes(self) -> int:
        store = self.spark.sparkContext._jsc.sc().statusStore()
        return int(store.executorSummary("driver").totalShuffleWrite())

    def stop(self) -> None:
        """Stop Spark and wait until the JVM and its workers have ended."""
        gateway = self.spark.sparkContext._gateway
        pids = procs.tree(self.jvm_pid)
        self.spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)
        for pid in procs.wait_gone(pids):
            os.kill(pid, 9)
        if procs.wait_gone(pids, timeout=10):
            raise RuntimeError("Spark processes still running after stop")


def _ops(workload: str) -> list[str]:
    return checks.DEDUP_TABLES if workload == "corpus_dedup" else list(checks.KG_TABLES)


# --- the workloads as a user runs them (--trace 0) ----------------------


def kg_build(b: Bench, out: Path, ckpt):
    """jobs/build_kg.py's sequence with ``--checkpoint``; yields each
    table once written."""
    from pignlproc_spark import tables
    from pignlproc_spark.operators import triples
    from pignlproc_spark.plans import pipeline

    res = pipeline.run(b.spark, b.pages, b.redirects, ckpt=ckpt, source_id=b.source_id)
    triples.write_graph(res.triples, name="graph/triples", root=str(out))
    yield "graph/triples"
    for name, df in (
        ("pair_counts", res.pair_counts),
        ("uri_counts", res.uri_counts),
        ("sf_total_counts", res.sf_total_counts),
        ("token_counts", res.token_counts),
    ):
        tables.write_table(df, f"stats/{name}", root=str(out))
        yield f"stats/{name}"
    res.unpersist()


def corpus_dedup(b: Bench, out: Path):
    from pignlproc_spark import tables
    from pignlproc_spark.operators import dedup

    nd = dedup.near_duplicates(b.docs, min_jaccard_pct=checks.MIN_JACCARD_PCT)
    tables.write_table(nd, "dedup/near_duplicates", root=str(out))
    yield "dedup/near_duplicates"
    tables.write_table(dedup.connected_components(nd), "dedup/components", root=str(out))
    yield "dedup/components"
    tc = dedup.tf_cosine_pairs(b.docs, min_cos_pct=checks.MIN_COS_PCT, max_df=checks.TF_COS_MAX_DF)
    tables.write_table(tc, "dedup/tf_cosine", root=str(out))
    yield "dedup/tf_cosine"


# --- the same calls layer by layer, each boundary materialized (--trace 1)
#
# Three steps of the program are not public functions of their own, so
# the traced run repeats them here, and only them:
# - parsed_pages: the parse select of ``plans.pipeline.run``;
# - sf_total_join: the final join of ``stats.sf_total_counts``;
# - dedup_traced's jaccard span: the token-set checkpoint and eager
#   output checkpoint of ``dedup.near_duplicates``.
# ``test_checks.py`` checks the traced outputs like the untraced ones and
# compares sf_total_join's rows with those of ``stats.sf_total_counts``.


def parsed_pages(b: Bench):
    from pyspark.sql import functions as F

    from pignlproc_spark.functions.extract import fused_mentions_udf

    fused = fused_mentions_udf()
    return b.pages.select("url", "lang", fused(F.col("html")).alias("_p")).select("url", "lang", "_p.*")


def sf_total_join(annotated, totals):
    from pyspark.sql import functions as F

    from pignlproc_spark.operators import stats

    joined = annotated.withColumn("_norm", stats.normalize_sf_udf()(F.col("surface_form"))).join(
        totals, F.col("_norm") == totals["norm_sf"], "left"
    )
    return joined.select(
        "surface_form",
        "annotated_cnt",
        F.coalesce(F.col("total_cnt"), F.lit(-1)).cast("long").alias("total_cnt"),
    )


def articles(parsed):
    from pyspark.sql import functions as F

    return parsed.where(F.col("redirect").isNull())


def stage_fingerprints(b: Bench) -> tuple[str, str]:
    """The fingerprints pipeline.run gives its parsed and mentions
    stages for ``b.source_id`` (one corpus snapshot, so the redirects
    share the pages' identity)."""
    from pignlproc_spark.checkpoint import input_fingerprint
    from pignlproc_spark.plans import pipeline

    return (
        input_fingerprint(b.spark, b.source_id, pipeline.SPEC_VERSION),
        input_fingerprint(b.spark, b.source_id, pipeline.SPEC_VERSION, f"redirects={b.source_id}"),
    )


def _materialize(tr, df):
    from pyspark.storagelevel import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    key = f"{tr.layer}.rows_out"
    tr.counts[key] = tr.counts.get(key, 0) + df.count()
    return df


def kg_traced(b: Bench, out: Path, tr, ckpt):
    import pyarrow as pa

    from pignlproc_spark import tables
    from pignlproc_spark.operators import stats, triples
    from pignlproc_spark.plans import pipeline

    m = lambda df: _materialize(tr, df)  # noqa: E731
    fp_parsed, fp_mentions = stage_fingerprints(b)
    with tr.span("job"):
        with tr.span("extract"):
            parsed = m(parsed_pages(b))
        with tr.span("checkpoint"):
            parsed = m(ckpt.stage(parsed, "parsed", fp_parsed))
        arts = articles(parsed)
        with tr.span("mentions"):
            mentions = m(pipeline.mentions_from_fused(arts, b.redirects))
        with tr.span("checkpoint"):
            mentions = m(ckpt.stage(mentions, "mentions", fp_mentions))
        with tr.span("sf_dict"):
            annotated = m(stats.annotated_sf_counts(mentions))
            forms = stats.capped_surface_forms_ipc(annotated)
            tr.counts["sf_dict.forms"] = pa.ipc.open_stream(forms).read_all().num_rows
            tr.counts["sf_dict.ipc_mb"] = len(forms) / MB
        with tr.span("ngrams"):
            totals = m(stats.sf_occurrence_totals(arts.select("text"), forms))
        with tr.span("counts"):
            pairs = m(stats.pair_counts(mentions))
            uris = m(stats.uri_counts(mentions))
            toks = m(stats.token_counts(mentions))
            mentioned = m(triples.mention_counts(mentions))
            sf_tot = m(sf_total_join(annotated, totals))
        with tr.span("triples"):
            trip = triples.build_triples(pairs, uris, sf_tot, mentioned)
            triples.write_graph(trip, name="graph/triples", root=str(out))
        yield "graph/triples"
        for name, df in (("pair_counts", pairs), ("uri_counts", uris), ("sf_total_counts", sf_tot), ("token_counts", toks)):
            with tr.span("tables"):
                tables.write_table(df, f"stats/{name}", root=str(out))
            yield f"stats/{name}"
    tr.counts["tables.files"] = sum(1 for p in (out / "stats").rglob("part-*") if p.is_file())


def dedup_traced(b: Bench, out: Path, tr):
    from pignlproc_spark import tables
    from pignlproc_spark.operators import dedup

    m = lambda df: _materialize(tr, df)  # noqa: E731
    with tr.span("job"):
        with tr.span("dedup.minhash"):
            sigs = m(dedup.minhash_signatures(b.docs))
        with tr.span("dedup.lsh"):
            cands = m(dedup.lsh_candidate_pairs(b.docs, sigs=sigs))
        with tr.span("dedup.jaccard"):
            toks = dedup._token_sets(b.docs).localCheckpoint(eager=False)
            nd = dedup.jaccard_pairs(b.docs, min_jaccard_pct=checks.MIN_JACCARD_PCT, pairs=cands, toks=toks)
            nd = nd.localCheckpoint(eager=True)
            tables.write_table(nd, "dedup/near_duplicates", root=str(out))
        yield "dedup/near_duplicates"
        with tr.span("dedup.components"):
            tables.write_table(dedup.connected_components(nd), "dedup/components", root=str(out))
        yield "dedup/components"
        with tr.span("dedup.tf_cosine"):
            tc = dedup.tf_cosine_pairs(b.docs, min_cos_pct=checks.MIN_COS_PCT, max_df=checks.TF_COS_MAX_DF)
            tables.write_table(tc, "dedup/tf_cosine", root=str(out))
        yield "dedup/tf_cosine"


# --- rounds, checks and metrics -----------------------------------------


def drive(gen) -> tuple[list[str], list[str]]:
    """Run one round's writes; returns (tables written, errors)."""
    written = []
    try:
        for name in gen:
            written.append(name)
    except Exception as e:  # a failed op is counted, not fatal to the run
        return written, [f"round raised {type(e).__name__}: {str(e)[:500]}"]
    return written, []


def check(b: Bench, out: Path, written: list[str]) -> list[str]:
    if b.workload == "corpus_dedup":
        inp = checks.DedupInputs(b.corpus)
        return [p for name in written for p in checks.check_dedup_table(out, inp, name)]
    return [p for name in written for p in checks.check_kg_table(out, b.corpus, name)]


def check_stages(b: Bench, ckpt) -> list[str]:
    """Both stages written and committed in this round, none resumed."""
    fps = dict(zip(("parsed", "mentions"), stage_fingerprints(b)))
    probs = [f"checkpoint stage {n} not committed" for n, fp in fps.items() if not ckpt.is_complete(n, fp)]
    if sorted((e["stage"], e["resumed"]) for e in ckpt.events) != [("mentions", False), ("parsed", False)]:
        probs.append(f"checkpoint stages not written once each: {ckpt.events}")
    return probs


def _tree_bytes(root: Path, pattern: str = "*") -> int:
    return sum(p.stat().st_size for p in root.rglob(pattern) if p.is_file() and not p.name.startswith("."))


def measure(b: Bench, seconds: float) -> dict:
    """Whole rounds until ``seconds`` have passed; the first round is the
    cold job every metric is taken from."""
    from pignlproc_spark.checkpoint import CheckpointManager

    phases = {"jobs": 0.0, "checks": 0.0}
    tr = Tracer(b.spark, b.jvm_pid) if b.trace else None
    first: dict = {}
    attempted, failed, problems = 0, 0, []
    t_begin = time.time()
    while not first or time.time() - t_begin < seconds:
        out, ck_root = b.work / f"round{attempted}", b.work / f"ckpt{attempted}"
        ckpt = CheckpointManager(str(ck_root)) if b.workload == "kg_build" else None
        traced = tr if not first else None  # only the first round is traced
        if b.workload == "corpus_dedup":
            gen = dedup_traced(b, out, traced) if traced else corpus_dedup(b, out)
        else:
            gen = kg_traced(b, out, traced, ckpt) if traced else kg_build(b, out, ckpt)
        pids = procs.tree(b.jvm_pid)
        cpu0, sh0, t0 = procs.cpu_s(pids), b.shuffle_bytes(), time.time()
        written, errors = drive(gen)
        job_s = time.time() - t0
        phases["jobs"] += job_s
        if not first:
            pids = procs.tree(b.jvm_pid)
            first = {
                "job_s": job_s,
                "cpu_s": procs.cpu_s(pids) - cpu0,
                "shuffle_mb": (b.shuffle_bytes() - sh0) / MB,
                "output_mb": _tree_bytes(out) / MB,
                "checkpoint.write_mb": _tree_bytes(ck_root, "*.parquet") / MB,
            }
        ops = _ops(b.workload)
        # a round that raised timed part of a job, not the job: the run
        # is not correct
        problems += errors
        t = time.time()
        problems += check(b, out, written)
        phases["checks"] += time.time() - t
        if ckpt is not None and not errors:
            problems += check_stages(b, ckpt)
        attempted += len(ops)
        failed += len(ops) - len(written)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ck_root, ignore_errors=True)
    return {
        "first": first,
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "tracer": tr,
        "phases": phases,
    }


def end_to_end(b: Bench, res: dict, setup_s: float) -> dict:
    first = res["first"]
    docs = pq.read_metadata(b.corpus / ("docs.parquet" if b.workload == "corpus_dedup" else "pages.parquet")).num_rows
    return {
        "setup_s": setup_s,
        "job_s": first["job_s"],
        "docs_per_s": docs / first["job_s"],
        "cpu_s": first["cpu_s"],
        "shuffle_mb": first["shuffle_mb"],
        "output_mb": first["output_mb"],
    }


def per_layer(b: Bench, res: dict, setup_s: float) -> dict:
    """Per-layer figures of the traced round; layers the workload does
    not call read 0."""
    tr, first = res["tracer"], res["first"]
    fold = fold_event_log(b.work / "events")
    selfs, pycpu = tr.self_times(), tr.python_cpu()
    job = sum(s["end"] - s["start"] for s in tr.spans if s["name"] == "job")
    vals = {"session.start_s": setup_s, "trace.job_s": job}
    for layer in KG_LAYERS + DEDUP_LAYERS:
        f = fold.get(layer, {})
        vals[f"{layer}.wall_s"] = selfs.get(layer, 0.0)
        vals[f"{layer}.python_cpu_s"] = pycpu.get(layer, 0.0)
        vals[f"{layer}.jobs"] = f.get("jobs", 0)
        vals[f"{layer}.rows_out"] = f.get("records_written") or tr.counts.get(f"{layer}.rows_out", 0)
        for k in FOLDED:
            vals[f"{layer}.{k}"] = f.get(k, 0.0)
    candidates = vals["dedup.lsh.rows_out"]
    vals.update(
        {
            "sf_dict.forms": tr.counts.get("sf_dict.forms", 0),
            "sf_dict.ipc_mb": tr.counts.get("sf_dict.ipc_mb", 0.0),
            "tables.files": tr.counts.get("tables.files", 0),
            "checkpoint.write_mb": first["checkpoint.write_mb"],
            "dedup.lsh.candidates": candidates,
            "dedup.jaccard.pass_ratio": vals["dedup.jaccard.rows_out"] / candidates if candidates else 0.0,
            "dedup.tf_cosine.pairs": vals["dedup.tf_cosine.rows_out"],
        }
    )
    tr.write(HERE / ".traces" / f"{b.workload}-seed{b.seed}.json")
    return vals


def _isolate(work: Path) -> None:
    """Keep temporary and shuffle files inside the run's work directory."""
    import tempfile

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="run whole rounds until this much time has passed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (REPO / "pignlproc_spark" / "session.py").is_file() or not (REPO / "BENCHMARK.json").is_file():
        print("perfbench: run from the repository root (pignlproc_spark/ or BENCHMARK.json not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, str(REPO))
    proc_start = procs.process_start_epoch()
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    work = HERE / ".out" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        _isolate(work)
        b = Bench(args.workload, args.seed, bool(args.trace), work)
        b.start()
        setup_s = time.time() - proc_start - b.prep_s
        phases = {"inputs": b.prep_s, "setup": setup_s}
        try:
            res = measure(b, args.seconds)
        finally:
            t = time.time()
            b.stop()
        phases.update(res["phases"], stop=time.time() - t)
        # per_layer reads the event log, complete once the application has stopped
        vals = per_layer(b, res, setup_s) if args.trace else end_to_end(b, res, setup_s)
        names = spec["per_layer" if args.trace else "end_to_end"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in res["problems"]:
        print(f"perfbench: {p}", file=sys.stderr)
    print("perfbench: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()), file=sys.stderr)
    result = {
        "correct": not res["problems"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]} for m in names},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
