"""End-to-end pipeline: extract -> candidates -> score -> constrain ->
decide -> canonicalize -> materialize, declared once as a stage graph and
run by stages/base.run_graph (fingerprinted resume, per-partition lineage).

This is the north star's four-stage chain; the correctness gate
(tests/test_pipeline.py) runs it on a corpus with the reference's DBP-Lit
quads planted into file content and asserts P/R >= 0.95 of the emitted
triple set plus per-row content-sha256 survival.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .base import PipelineContext, Stage, run_graph
from .candidates import generate_candidates
from .canonicalize import apply_canonical, canonicalize
from .constraints import (
    cardinality_score,
    merge_scores,
    mine_cardinality,
    mine_range,
    per_subject_counts,
    range_score,
)
from .decide import decide, rank_predictions
from .extract import extract_triples
from .score import score_candidates


def _train_model(kb_triples, entity_label, kge, kge_entity_rows):
    from ..ml import train_plausibility_weights, weights_to_df

    w = train_plausibility_weights(kb_triples, entity_label, kge,
                                   kge_entity_rows=kge_entity_rows)
    return weights_to_df(kb_triples.sparkSession, w)


def _score(extract, candidates, kb_triples, kge, entity_class, vector_features,
           kge_entity_rows, train_model=None):
    from ..ml import weights_from_df

    return score_candidates(
        extract, candidates, kb_triples, kge, entity_class=entity_class,
        vector_features=vector_features, kge_entity_rows=kge_entity_rows,
        model_w=None if train_model is None else weights_from_df(train_model),
    )


def _constrain(score, card, rng, kb_triples, entity_class):
    # per-(subject, predicate) object counts are fact-scaled and stay lazy:
    # their two consumers share one reusable exchange
    per_subj = per_subject_counts(kb_triples)
    out = cardinality_score(score, card, kb_triples, per_subj=per_subj)
    return merge_scores(range_score(out, rng, entity_class))


def run_pipeline(
    spark: SparkSession,
    repos: DataFrame,
    kb: dict[str, DataFrame],
    kge: DataFrame,
    workdir: str,
    threshold: float = 0.9,
    num_partitions: int = 32,
    kge_entity_rows: int | None = None,
    vector_features: bool = False,
    learn_weights: bool = True,
) -> PipelineContext:
    """Returns the context; ``ctx.ran`` lists the committed stages in
    declared order, the final graph at ``ctx.ran[-1].df``.

    Rerunning on the same workdir resumes every stage whose fingerprint
    (parameters, input frames' plans, upstream commits) is unchanged: a
    new ``threshold`` reruns only decide and materialize, a changed
    ``repos`` reruns extract through materialize while canonicalize and
    train_model resume. Code changes are not fingerprinted — use a fresh
    workdir after one.

    learn_weights=True (the default — the measured pipeline IS the shipped
    train-then-predict pipeline) trains the M8 plausibility logistic on
    self-supervised KB pos/neg pairs (ml.train_plausibility_weights — the
    reference's shape, util_nn.py:11-108) as its own checkpointed stage,
    replacing the shipped default weights. learn_weights=False scores with
    the shipped default weights.

    vector_features=False: the default model carries zero weights for the
    M2 block, so materializing those vectors buys no accuracy; pass True
    with a model that weights them (tests/test_score_vectors.py).
    kge_entity_rows comes from caller metadata and saves the broadcast
    budget probe job.
    """
    kbt, labels, classes = kb["kb_triples"], kb["entity_label"], kb["entity_class"]
    model = ("train_model",) if learn_weights else ()
    stages = [
        # north rule: explicit repartition after extraction — downstream
        # stages join on the literal, so co-locate by it now
        Stage("extract", extract_triples, frames={"repos": repos},
              repartition=(num_partitions, ["literal"])),
        Stage("candidates", lambda extract, entity_label: generate_candidates(
            extract, entity_label), deps=("extract",), frames={"entity_label": labels}),
        Stage("train_model", _train_model, params={"kge_entity_rows": kge_entity_rows},
              frames={"kb_triples": kbt, "entity_label": labels, "kge": kge}),
        Stage("score", _score, deps=("extract", "candidates", *model),
              frames={"kb_triples": kbt, "kge": kge, "entity_class": classes},
              params={"vector_features": vector_features,
                      "kge_entity_rows": kge_entity_rows}),
        # the mined constraints are dimension tables (|P| x n, |P| x |C|)
        # referenced several times by the constrain plan; localCheckpoint
        # collapses each reference to a leaf. Mining reads only the KB, so
        # it overlaps the upstream stages — and runs only when constrain does.
        Stage("card", lambda kb_triples: mine_cardinality(
            kb_triples, per_subj=per_subject_counts(kb_triples)).localCheckpoint(),
            frames={"kb_triples": kbt}, commit=False),
        Stage("rng", lambda **tables: mine_range(**tables).localCheckpoint(), commit=False,
              frames={"kb_triples": kbt, "entity_class": classes,
                      "class_ancestor": kb["class_ancestor"]}),
        Stage("constrain", _constrain, deps=("score", "card", "rng"),
              frames={"kb_triples": kbt, "entity_class": classes}),
        Stage("predict", lambda constrain: rank_predictions(constrain), deps=("constrain",)),
        Stage("decide", lambda predict, threshold: decide(predict, threshold=threshold),
              deps=("predict",), params={"threshold": threshold}),
        Stage("canonicalize", canonicalize, params={"num_partitions": num_partitions},
              frames={"entity_label": labels, "redirects": kb["redirects"]}),
        # final graph partitioned by predicate — the reference's own cache
        # layout (PTriple_Cache keyed by property) and the natural query key;
        # repartition on predicate only keeps it ~1 file per predicate
        Stage("materialize", lambda decide, canonicalize: apply_canonical(decide, canonicalize),
              deps=("decide", "canonicalize"), partition_by=["predicate"],
              repartition=(num_partitions, ["predicate"])),
    ]
    if not learn_weights:
        stages = [s for s in stages if s.name != "train_model"]
    return run_graph(PipelineContext(spark=spark, workdir=workdir), stages)
