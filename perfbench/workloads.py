"""Seeded inputs, one job per workload, and the per-job correctness checks.

Every input comes from ``kg_curation_spark.synth``; the seed is the only
source of variation. A ``Workload`` bundles:

  * ``build(spark, seed, tmp)`` -> Inputs     (the timed set-up)
  * ``digest(inp)``             -> {name: sha256} of the built inputs
  * ``regenerate(spark, seed)`` -> the same digests from a second generation
  * ``cold(spark, inp, k)``     -> JobResult  (first job of the process)
  * ``warm(spark, inp, k)``     -> JobResult  (one job of the measured loop)
  * ``check(spark, inp, res)``  -> dict       (untimed; sets res.ok)
"""

from __future__ import annotations

import hashlib
import os
import random
import time
from collections import Counter
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_QUADS = 5000
FILES_PER_REPO = 200
# the re-decide jobs walk these thresholds in a seeded order
THRESHOLDS = [round(0.80 + 0.01 * i, 2) for i in range(16)]
LC_F1_MIN = 0.95
LC_REPLACEMENT_MIN = 0.99
AC_PR_MIN = 0.95


@dataclass
class Inputs:
    quads: DataFrame
    n_assertions: int
    tables: dict = field(default_factory=dict)
    timings: dict = field(default_factory=dict)
    state: dict = field(default_factory=dict)


@dataclass
class JobResult:
    wall_s: float
    out: object
    params: dict = field(default_factory=dict)
    ok: bool = False
    quality: dict = field(default_factory=dict)


def digest(df: DataFrame) -> str:
    """sha256 over the rows in sorted order: equal bytes for equal data."""
    h = hashlib.sha256()
    for row in sorted(tuple("" if v is None else str(v) for v in r) for r in df.collect()):
        h.update("\x1f".join(row).encode())
        h.update(b"\n")
    return h.hexdigest()


def _timed(timings: dict, key: str, fn):
    t0 = time.perf_counter()
    out = fn()
    timings[key] = time.perf_counter() - t0
    return out


def _cached(df: DataFrame) -> DataFrame:
    df = df.cache()
    df.count()
    return df


# --------------------------------------------------------------------------
# assertion correction


def build_ac(spark, seed: int, tmp: str) -> Inputs:
    from kg_curation_spark import synth

    t: dict = {}
    quads = _timed(t, "synth.quads_s",
                   lambda: _cached(synth.synthetic_quads(spark, N_QUADS, seed=seed)))

    def corpus():
        path = os.path.join(tmp, "corpus")
        synth.render_corpus(quads, files_per_repo=FILES_PER_REPO, seed=seed) \
            .write.parquet(path)
        return path

    corpus_path = _timed(t, "synth.corpus_s", corpus)
    kb = _timed(t, "synth.kb_s", lambda: {
        n: _cached(df) for n, df in synth.build_kb(spark, quads, seed=seed).items()
    })

    def kge():
        pdf = synth.build_kge(quads.toPandas(), seed=seed)
        df = _cached(spark.createDataFrame(pdf, "id string, kind string, vec array<float>"))
        return df, int((pdf["kind"] == "e").sum())

    kge_df, n_evec = _timed(t, "synth.kge_s", kge)
    return Inputs(
        quads=quads, n_assertions=N_QUADS, timings=t,
        tables={"repos": spark.read.parquet(corpus_path), "kge": kge_df, **kb},
        state={"n_evec": n_evec},
    )


def digest_ac(inp: Inputs) -> dict:
    return {"quads": digest(inp.quads), "corpus": digest(inp.tables["repos"])}


def regenerate_ac(spark, seed: int) -> dict:
    from kg_curation_spark import synth

    quads = synth.synthetic_quads(spark, N_QUADS, seed=seed)
    corpus = synth.render_corpus(quads, files_per_repo=FILES_PER_REPO, seed=seed)
    return {"quads": digest(quads), "corpus": digest(corpus)}


def _kb(inp: Inputs) -> dict:
    return {k: inp.tables[k] for k in
            ("entity_label", "kb_triples", "entity_class", "class_ancestor",
             "redirects")}


def _pipeline(spark, inp: Inputs, workdir: str, threshold: float):
    from kg_curation_spark.stages.pipeline import run_pipeline

    t0 = time.perf_counter()
    ctx = run_pipeline(
        spark, inp.tables["repos"], _kb(inp), inp.tables["kge"], workdir,
        threshold=threshold, num_partitions=inp.state["partitions"],
        kge_entity_rows=inp.state["n_evec"],
    )
    return time.perf_counter() - t0, ctx


def fresh_ac(spark, inp: Inputs, k: int) -> JobResult:
    """One full assertion-correction job into a fresh workdir."""
    workdir = os.path.join(inp.state["tmp"], f"wd_{k}")
    wall, ctx = _pipeline(spark, inp, workdir, 0.9)
    inp.state["workdir"] = workdir
    return JobResult(wall, ctx, {"threshold": 0.9, "fresh": True})


def redecide_ac(spark, inp: Inputs, k: int) -> JobResult:
    """Drop the decide and materialize commits and rerun at the next
    threshold of the seeded list: every other stage resumes."""
    order = inp.state.setdefault(
        "thresholds", random.Random(inp.state["seed"]).sample(THRESHOLDS, len(THRESHOLDS))
    )
    thr = order[k % len(order)]
    workdir = inp.state["workdir"]
    for stage in ("decide", "materialize"):
        os.remove(os.path.join(workdir, f"_{stage}.COMMITTED"))
    wall, ctx = _pipeline(spark, inp, workdir, thr)
    return JobResult(wall, ctx, {"threshold": thr, "fresh": False})


def _stage(ctx, name: str):
    return next(r for r in ctx.ran if r.name == name)


def check_ac(spark, inp: Inputs, res: JobResult) -> dict:
    """Fresh job: P/R against the planted ground truth. Re-decide job: every
    upstream stage resumed, and the final graph equals decide() at the
    job's threshold over the committed predictions, canonicalized with the
    committed components."""
    from kg_curation_spark.stages.canonicalize import apply_canonical
    from kg_curation_spark.stages.decide import decide
    from kg_curation_spark.stages.evaluate import triple_set_pr

    ctx = res.out
    if res.params["fresh"]:
        pr = triple_set_pr(_stage(ctx, "decide").df, inp.quads, inp.tables["redirects"])
        res.quality = {"precision": pr["precision"], "recall": pr["recall"]}
        res.ok = (pr["precision"] >= AC_PR_MIN and pr["recall"] >= AC_PR_MIN
                  and pr["emitted"] == pr["gt"])
        return {"emitted": pr["emitted"], "gt": pr["gt"], **res.quality}
    upstream = [r for r in ctx.ran if r.name not in ("decide", "materialize")]
    resumed = len(upstream) == 7 and all(r.resumed for r in upstream)
    expected = apply_canonical(
        decide(_stage(ctx, "predict").df, threshold=res.params["threshold"]),
        _stage(ctx, "canonicalize").df,
    )
    cols = ["subject", "predicate", "object", "score", "literal", "content_sha"]
    got = Counter(map(tuple, _stage(ctx, "materialize").df.select(*cols).collect()))
    want = Counter(map(tuple, expected.select(*cols).collect()))
    diff = sum(((got - want) + (want - got)).values())
    res.ok = resumed and diff == 0
    return {"upstream_resumed": resumed, "graph_diff_rows": diff}


# --------------------------------------------------------------------------
# literal canonicalization


def _lc_quads(spark, seed: int) -> DataFrame:
    from kg_curation_spark import synth

    return (synth.synthetic_quads(spark, N_QUADS, seed=seed)
            .filter(F.col("gt_entity") != "")
            .select("subject", "predicate", "literal",
                    F.col("gt_entity").alias("source_entity")))


def _lc_types(spark, quads: DataFrame, seed: int) -> DataFrame:
    from kg_curation_spark import synth

    annotated = quads.select("subject", "predicate", "literal",
                             F.col("source_entity").alias("gt_entity"))
    return synth.build_kb(spark, annotated, seed=seed)["entity_class"]


def build_lc(spark, seed: int, tmp: str) -> Inputs:
    """Annotated quads (gt_entity -> source_entity) and the entity types
    build_kb derives for them."""
    t: dict = {}
    quads = _timed(t, "synth.quads_s", lambda: _cached(_lc_quads(spark, seed)))
    types = _timed(t, "synth.kb_s", lambda: _cached(_lc_types(spark, quads, seed)))
    return Inputs(quads=quads, n_assertions=quads.count(), timings=t,
                  tables={"entity_types": types})


def digest_lc(inp: Inputs) -> dict:
    return {"quads": digest(inp.quads), "entity_types": digest(inp.tables["entity_types"])}


def regenerate_lc(spark, seed: int) -> dict:
    quads = _lc_quads(spark, seed)
    return {"quads": digest(quads), "entity_types": digest(_lc_types(spark, quads, seed))}


def run_lc(spark, inp: Inputs, k: int) -> JobResult:
    from kg_curation_spark.stages.lc_pipeline import run_lc_pipeline

    t0 = time.perf_counter()
    out = run_lc_pipeline(spark, inp.quads, inp.tables["entity_types"])
    return JobResult(time.perf_counter() - t0, out)


def check_lc(spark, inp: Inputs, res: JobResult) -> dict:
    prf, acc = res.out["prf"], res.out["replacement_accuracy"]
    res.quality = {"precision": prf["mean_precision"], "recall": prf["mean_recall"],
                   "type_f1": prf["mean_f1"], "replacement_accuracy": acc}
    res.ok = (prf["mean_f1"] >= LC_F1_MIN and acc >= LC_REPLACEMENT_MIN
              and res.out["n_assertions"] == inp.n_assertions)
    return dict(res.quality)


@dataclass(frozen=True)
class Workload:
    build: Callable
    digest: Callable
    regenerate: Callable
    cold: Callable
    warm: Callable
    check: Callable
    # the measured loop runs at least this many warm jobs: a few-second job
    # is measured more than once, while every run still fits the schedule
    min_warm_jobs: int = 1


WORKLOADS = {
    "ac_redecide": Workload(build_ac, digest_ac, regenerate_ac, fresh_ac, redecide_ac,
                            check_ac, min_warm_jobs=2),
    "lc_typing": Workload(build_lc, digest_lc, regenerate_lc, run_lc, run_lc, check_lc),
}
