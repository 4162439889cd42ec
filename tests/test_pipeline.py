"""End-to-end gate: P/R >= 0.95 vs the reference fixture, sha invariant,
checkpoint-resume (BASELINE.md rebuild targets)."""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
import pytest

from kg_curation_spark import synth
from kg_curation_spark.stages.evaluate import (
    ranking_metrics,
    recall_at_k,
    triple_set_pr,
)
from kg_curation_spark.stages.pipeline import run_pipeline


@pytest.fixture(scope="module")
def fixture_world(spark, tmp_path_factory):
    quads = synth.load_reference_quads(spark).cache()
    corpus = synth.render_corpus(quads).cache()
    kb = {k: v.cache() for k, v in synth.build_kb(spark, quads).items()}
    kge = spark.createDataFrame(
        synth.build_kge(quads.toPandas()), "id string, kind string, vec array<float>"
    ).cache()
    wd = str(tmp_path_factory.mktemp("kgpipe"))
    # learn_weights=True: every gate below (P/R, hits@k, MRR, recall@k,
    # sha survival) holds with LEARNED plausibility weights, not the
    # shipped default vector
    ctx = run_pipeline(spark, corpus, kb, kge, wd, learn_weights=True)
    yield {"quads": quads, "corpus": corpus, "kb": kb, "kge": kge,
           "wd": wd, "ctx": ctx}
    shutil.rmtree(wd, ignore_errors=True)


def _stage(ctx, name):
    return next(r for r in ctx.ran if r.name == name)


def test_triple_pr_gate(fixture_world):
    """BASELINE.json: emitted (s,p,o) P/R >= 0.95 vs reference fixture."""
    w = fixture_world
    pr = triple_set_pr(_stage(w["ctx"], "decide").df, w["quads"], w["kb"]["redirects"])
    assert pr["precision"] >= 0.95, pr
    assert pr["recall"] >= 0.95, pr


def test_ranking_metrics(fixture_world):
    w = fixture_world
    m = ranking_metrics(
        _stage(w["ctx"], "predict").df, w["quads"], w["kb"]["redirects"]
    ).first()
    assert m["hits1"] >= 0.95 and m["hits5"] >= 0.95 and m["mrr"] >= 0.95


def test_candidate_recall(fixture_world):
    w = fixture_world
    preds = _stage(w["ctx"], "predict").df
    r = {row["k"]: row["recall"] for row in
         recall_at_k(preds, w["quads"], w["kb"]["redirects"], k_max=5).collect()}
    assert r[5] >= 0.95


def test_sha_invariant_survives_to_final_graph(fixture_world):
    w = fixture_world
    final = _stage(w["ctx"], "materialize").df
    src = w["corpus"].select(
        F.sha2("content", 256).alias("content_sha")
    ).distinct()
    # every final triple's sha must be the sha of some source file
    orphans = final.join(src, "content_sha", "left_anti").count()
    assert orphans == 0


def test_lineage_rows_written(fixture_world):
    w = fixture_world
    lin = w["ctx"].lineage()
    stages = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert {"extract", "candidates", "score", "constrain", "predict",
            "decide", "canonicalize", "materialize"} <= stages
    # per-partition rows sum to the stage totals
    total = (
        lin.filter(F.col("stage") == "extract")
        .agg(F.sum("rows_out").alias("n")).first()["n"]
    )
    assert total == _stage(w["ctx"], "extract").rows_out


def test_kill_and_resume(fixture_world, spark):
    """Simulated crash: later-stage markers removed -> rerun recomputes only
    those stages, early stages resume from checkpoint, output identical."""
    w = fixture_world
    wd = w["wd"]
    before = sorted(
        map(tuple, _stage(w["ctx"], "materialize").df
            .select("subject", "predicate", "object").collect())
    )
    # crash after 'score': drop commit markers of every later stage
    for name in ("constrain", "predict", "decide", "canonicalize", "materialize"):
        os.remove(os.path.join(wd, f"_{name}.COMMITTED"))

    ctx2 = run_pipeline(spark, w["corpus"], w["kb"], w["kge"], wd)
    assert _stage(ctx2, "extract").resumed
    assert _stage(ctx2, "candidates").resumed
    assert _stage(ctx2, "score").resumed
    assert not _stage(ctx2, "constrain").resumed
    after = sorted(
        map(tuple, _stage(ctx2, "materialize").df
            .select("subject", "predicate", "object").collect())
    )
    assert before == after


# --------------------------------------------------------------------------
# Fingerprinted resume: each case reruns on a copy of one fresh run's
# workdir, over seeded synthetic inputs.

STAGE_ORDER = ["extract", "candidates", "train_model", "score", "constrain",
               "predict", "decide", "canonicalize", "materialize"]


@pytest.fixture(scope="module")
def synth_world(spark, tmp_path_factory):
    quads = synth.synthetic_quads(spark, 800, seed=7).cache()
    corpus = synth.render_corpus(quads, seed=7).cache()
    kb = {k: v.cache() for k, v in synth.build_kb(spark, quads, seed=7).items()}
    kge = spark.createDataFrame(
        synth.build_kge(quads.toPandas(), seed=7), "id string, kind string, vec array<float>"
    ).cache()
    wd = str(tmp_path_factory.mktemp("kgsynth"))
    w = {"corpus": corpus, "kb": kb, "kge": kge, "wd": wd}
    w["ctx"] = _synth_run(spark, w, wd)
    yield w
    shutil.rmtree(wd, ignore_errors=True)


def _synth_run(spark, w, wd, repos=None, **kw):
    repos = w["corpus"] if repos is None else repos
    return run_pipeline(spark, repos, w["kb"], w["kge"], wd, num_partitions=4, **kw)


def _copy(w, tmp_path):
    wd = str(tmp_path / "wd")
    shutil.copytree(w["wd"], wd)
    return wd


def _rerun_names(ctx):
    return [r.name for r in ctx.ran if not r.resumed]


def _triples(df):
    cols = ["subject", "predicate", "object", "score", "literal", "content_sha"]
    return sorted(map(tuple, df.select(*cols).collect()))


def test_stage_graph_runs_in_declared_order(synth_world):
    assert [r.name for r in synth_world["ctx"].ran] == STAGE_ORDER
    assert not any(r.resumed for r in synth_world["ctx"].ran)


def test_new_threshold_reruns_decide_and_materialize(synth_world, spark, tmp_path):
    """No marker surgery: the threshold is part of decide's fingerprint."""
    from kg_curation_spark.stages.canonicalize import apply_canonical
    from kg_curation_spark.stages.decide import decide

    w = synth_world
    ctx = _synth_run(spark, w, _copy(w, tmp_path), threshold=0.5)
    assert _rerun_names(ctx) == ["decide", "materialize"]
    assert [r.name for r in ctx.ran] == STAGE_ORDER
    want = apply_canonical(decide(_stage(ctx, "predict").df, threshold=0.5),
                           _stage(ctx, "canonicalize").df)
    assert _triples(_stage(ctx, "materialize").df) == _triples(want)


def test_changed_input_reruns_its_downstream(synth_world, spark, tmp_path):
    w = synth_world
    repos = sorted(r["repo"] for r in w["corpus"].select("repo").distinct().collect())
    half = w["corpus"].filter(F.col("repo").isin(repos[::2]))
    ctx = _synth_run(spark, w, _copy(w, tmp_path), repos=half)
    assert _rerun_names(ctx) == ["extract", "candidates", "score", "constrain",
                                 "predict", "decide", "materialize"]
    assert _stage(ctx, "canonicalize").resumed and _stage(ctx, "train_model").resumed
    assert _stage(ctx, "extract").rows_out < _stage(w["ctx"], "extract").rows_out


def test_mining_runs_only_when_constrain_does(synth_world, spark, tmp_path, monkeypatch):
    from kg_curation_spark.stages import pipeline

    calls = []
    for name in ("mine_cardinality", "mine_range"):
        orig = getattr(pipeline, name)
        monkeypatch.setattr(
            pipeline, name, lambda *a, _o=orig, _n=name, **kw: calls.append(_n) or _o(*a, **kw)
        )
    w = synth_world
    wd = _copy(w, tmp_path)
    ctx = _synth_run(spark, w, wd, threshold=0.5)
    assert _stage(ctx, "constrain").resumed and calls == []
    os.remove(os.path.join(wd, "_constrain.COMMITTED"))
    ctx = _synth_run(spark, w, wd, threshold=0.5)
    assert _rerun_names(ctx) == ["constrain", "predict", "decide", "materialize"]
    assert sorted(calls) == ["mine_cardinality", "mine_range"]


def test_stage_resumes_only_on_same_key(spark, tmp_path):
    from kg_curation_spark.stages.base import PipelineContext

    calls = []

    def run(key):
        ctx = PipelineContext(spark=spark, workdir=str(tmp_path))
        ctx.stage("s", lambda: calls.append(key) or spark.range(3), key=key)
        return ctx.ran[0]

    assert not run({"fingerprint": "a"}).resumed
    res = run({"fingerprint": "a"})
    assert res.resumed and res.rows_out == 3 and calls == [{"fingerprint": "a"}]
    assert not run({"fingerprint": "b"}).resumed
    assert len(calls) == 2


def test_upstream_recommit_reruns_dependents(spark, tmp_path):
    """A stage whose upstream was committed again by another run reruns,
    even though its own fingerprint is unchanged."""
    from kg_curation_spark.stages.base import PipelineContext, Stage, run_graph

    graph = [Stage("a", lambda: spark.range(4)),
             Stage("b", lambda a: a.filter("id > 0"), deps=("a",))]

    def run(stages):
        ctx = run_graph(PipelineContext(spark=spark, workdir=str(tmp_path)), stages)
        return {r.name: r.resumed for r in ctx.ran}

    assert run(graph) == {"a": False, "b": False}
    assert run(graph) == {"a": True, "b": True}
    os.remove(os.path.join(tmp_path, "_a.COMMITTED"))
    assert run(graph[:1]) == {"a": False}  # e.g. a run that stopped after a
    assert run(graph) == {"a": True, "b": False}
