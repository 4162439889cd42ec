"""Traced run: spans recorded from outside the program, plus Spark's own
task metrics per span.

Nothing here edits the program. ``Tracer.install`` swaps public entry
points for thin wrappers (and ``uninstall`` puts the originals back):

  * ``PipelineContext.stage``            -> span ``stage.<name>``
  * ``ParquetDirSink.write`` / ``read``  -> spans ``sink.write`` / ``sink.read``
  * ``ml.train_plausibility_weights``    -> span ``ml.train``
  * the two constraint-mining calls the pipeline submits to its helper pool
                                         -> span ``constrain.mining``
  * the public calls ``run_lc_pipeline`` makes (candidates, typing)
                                         -> spans ``lc.<call>``

Each span that runs Spark work tags the calling thread's jobs with a job
group unique to that span, so the jobs a helper-pool thread submits are
attributed to the right span even while the main chain runs concurrently.
After the run, ``spark_jobs`` reads Spark's own status store (the data the
web UI and REST API serve) and groups job and stage metrics by that label.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.job: int | None = None  # benchmark job the spans belong to
        self._seq = itertools.count()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    def _group(self) -> str | None:
        return self.sc.getLocalProperty(GROUP_KEY)

    def _set_group(self, label: str | None) -> None:
        self.sc.setLocalProperty(GROUP_KEY, label)

    def _open(self, name: str, **attrs) -> dict:
        rec = {"name": name, "label": f"{name}#{next(self._seq)}",
               "job": self.job, "t0": time.time(), "t1": None, **attrs}
        with self._lock:
            self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str, tag_jobs: bool = True, **attrs):
        """Record one span; with ``tag_jobs`` the Spark jobs this thread
        submits inside it carry the span's label."""
        rec = self._open(name, **attrs)
        prev = self._group()
        if tag_jobs:
            self._set_group(rec["label"])
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            if tag_jobs:
                self._set_group(prev)

    # -- wrappers ----------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from kg_curation_spark import ml
        from kg_curation_spark.stages import base, candidates, pipeline, typing

        tracer = self
        stage_fn = base.PipelineContext.stage

        def stage(ctx, name, fn, **kw):
            with tracer.span(f"stage.{name}") as rec:
                df = stage_fn(ctx, name, fn, **kw)
            res = next(r for r in reversed(ctx.ran) if r.name == name)
            rec["resumed"] = res.resumed
            rec["rows_out"] = res.rows_out
            return df

        self._patch(base.PipelineContext, "stage", stage)

        sink_write = base.ParquetDirSink.write
        sink_read = base.ParquetDirSink.read

        def write(sink, ctx, name, df, partition_by):
            # the write job IS the stage's compute (stage fns are lazy), so
            # its Spark jobs stay attributed to the enclosing stage span
            with tracer.span("sink.write", tag_jobs=False, stage=name) as rec:
                sink_write(sink, ctx, name, df, partition_by)
            rec["bytes"] = _dir_bytes(sink.data_dir(ctx, name))

        def read(sink, ctx, name):
            with tracer.span("sink.read", tag_jobs=False, stage=name):
                return sink_read(sink, ctx, name)

        self._patch(base.ParquetDirSink, "write", write)
        self._patch(base.ParquetDirSink, "read", read)

        train = ml.train_plausibility_weights

        def train_wrapped(*a, **kw):
            with tracer.span("ml.train", tag_jobs=False):
                return train(*a, **kw)

        self._patch(ml, "train_plausibility_weights", train_wrapped)

        # The pipeline localCheckpoints what these return on a helper
        # thread right after the call, so the label stays on that thread
        # for the checkpoint job; the span's end is read back from the
        # jobs' completion times.
        for attr in ("mine_cardinality", "mine_range"):
            orig = getattr(pipeline, attr)

            def mining(*a, _orig=orig, **kw):
                rec = tracer._open("constrain.mining")
                tracer._set_group(rec["label"])
                df = _orig(*a, **kw)
                rec["t1"] = time.time()
                return df

            self._patch(pipeline, attr, mining)

        lc_calls = [(candidates, "generate_candidates", "lc.candidates")] + [
            (typing, f, f"lc.{f}")
            for f in ("property_range_scores", "induce_class_hierarchy",
                      "hierarchical_rollup", "independent_typing",
                      "typing_prf", "entity_replacement")
        ]
        for owner, attr, name in lc_calls:
            orig = getattr(owner, attr)

            def call(*a, _orig=orig, _name=name, **kw):
                with tracer.span(_name) as rec:
                    out = _orig(*a, **kw)
                if _name == "lc.candidates":
                    rec["df"] = out  # counted after the job by count_outputs
                return out

            self._patch(owner, attr, call)

    def count_outputs(self, job: int) -> None:
        """Row count of the candidates frame a lc job built; run after the
        job, untimed (the job cached that frame)."""
        for rec in self.spans:
            if rec["job"] == job and "df" in rec:
                rec["rows"] = rec.pop("df").count()

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    # -- Spark's own metrics -------------------------------------------------

    def spark_jobs(self) -> list[dict]:
        """Every Spark job the status store retained, each with the summed
        metrics of the stages it ran (skipped stages carry none)."""
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        stage_list = store.stageList(
            None, False, False,
            getattr(store, "stageList$default$4")(),
            getattr(store, "stageList$default$5")(),
        )
        stages = {}
        for s in json.loads(mapper.writeValueAsString(stage_list)):
            if s["status"] == "COMPLETE":
                stages[s["stageId"]] = s
        out = []
        for j in jobs:
            out.append({
                "label": j.get("jobGroup"),
                "submitted": j["submissionTime"] / 1000.0,
                "completed": (j.get("completionTime") or j["submissionTime"]) / 1000.0,
                "stages": [_stage_metrics(stages[i]) for i in j["stageIds"] if i in stages],
            })
        return out


def _stage_metrics(s: dict) -> dict:
    return {
        "id": s["stageId"],
        "tasks": s["numCompleteTasks"],
        "task_s": s["executorRunTime"] / 1000.0,
        "gc_s": s["jvmGcTime"] / 1000.0,
        "input_bytes": s["inputBytes"],
        "shuffle_bytes": s["shuffleWriteBytes"],
        "spill_bytes": s["memoryBytesSpilled"] + s["diskBytesSpilled"],
    }


def spark_totals(jobs: list[dict]) -> dict:
    """Job count plus stage metrics summed over the jobs' distinct stages."""
    tot = {"jobs": len(jobs), "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
           "input_bytes": 0, "shuffle_bytes": 0, "spill_bytes": 0}
    stages = {s["id"]: s for j in jobs for s in j["stages"]}
    for s in stages.values():
        for k in tot:
            if k != "jobs":
                tot[k] += s[k]
    return tot


def _dir_bytes(path: str | None) -> int:
    total = 0
    for root, _dirs, files in os.walk(path or ""):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# --------------------------------------------------------------------------
# per-layer metrics

SYNTH_KEYS = ("synth.quads_s", "synth.corpus_s", "synth.kb_s", "synth.kge_s")
AC_STAGES = ("extract", "candidates", "train_model", "score", "constrain",
             "predict", "decide", "canonicalize", "materialize")
LC_CALLS = ("lc.candidates", "lc.property_range_scores", "lc.induce_class_hierarchy",
            "lc.hierarchical_rollup", "lc.independent_typing", "lc.typing_prf",
            "lc.entity_replacement")
# spans whose Spark jobs are reported separately
SPARK_SPANS = tuple(f"stage.{s}" for s in AC_STAGES) + ("constrain.mining",) + LC_CALLS

UNITS = {"_s": "s", "_bytes": "bytes", "bytes_written": "bytes",
         "busy_share": "ratio", "per_assertion": "ratio", "yield": "ratio"}


def _unit(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def _dur(rec: dict) -> float:
    return rec["t1"] - rec["t0"]


def _ran(rec: dict | None) -> bool:
    return rec is not None and not rec.get("resumed", False)


def job_layers(spans: list[dict], sjobs: list[dict], job: dict, cores: int) -> dict:
    """Per-layer values of one benchmark job; None where the layer did no
    work in this job (a resumed stage, or a layer the workload skips)."""
    mine = [s for s in spans if s["job"] == job["k"]]
    window = [j for j in sjobs if job["t0"] <= j["submitted"] <= job["t1"]]
    by_label: dict[str, list[dict]] = {}
    for j in window:
        by_label.setdefault(j["label"], []).append(j)

    def spark_of(recs):
        return spark_totals([j for r in recs for j in by_label.get(r["label"], [])])

    m: dict[str, float | None] = {}
    tot = spark_totals(window)
    wall = job["t1"] - job["t0"]
    m.update({f"spark.{k}": tot[k] for k in
              ("jobs", "tasks", "task_s", "gc_s", "shuffle_bytes", "spill_bytes")})
    m["spark.busy_share"] = tot["task_s"] / (wall * cores)

    stage = {s["name"][len("stage."):]: s for s in mine if s["name"].startswith("stage.")}
    for name in AC_STAGES:
        rec = stage.get(name)
        m[f"stage.{name}.wall_s"] = _dur(rec) if _ran(rec) else None
    tm, sc = stage.get("train_model"), stage.get("score")
    m["score.wait_model_s"] = None
    if _ran(tm) and _ran(sc):
        wait = max(0.0, tm["t1"] - sc["t0"])
        m["score.wait_model_s"] = wait
        m["stage.score.wall_s"] -= wait  # self time
    dc, cn = stage.get("decide"), stage.get("canonicalize")
    m["materialize.wait_canon_s"] = (
        max(0.0, cn["t1"] - dc["t1"]) if _ran(stage.get("materialize")) and dc and cn
        else None)
    for name in ("extract", "candidates", "score", "decide"):
        m[f"{name}.rows_out"] = stage[name]["rows_out"] if name in stage else None
    ext, cand, dec = (m["extract.rows_out"], m["candidates.rows_out"], m["decide.rows_out"])
    m["candidates.per_assertion"] = cand / ext if ext and cand is not None else None
    m["decide.yield"] = dec / cand if cand and dec is not None else None
    m["extract.input_bytes"] = (
        spark_of([stage["extract"]])["input_bytes"] if _ran(stage.get("extract")) else None)
    m["stages.run"] = sum(_ran(s) for s in stage.values()) if stage else None
    m["stages.resumed"] = sum(not _ran(s) for s in stage.values()) if stage else None
    for kind in ("write", "read"):
        recs = [s for s in mine if s["name"] == f"sink.{kind}"]
        m[f"sink.{kind}_s"] = sum(_dur(s) for s in recs) if recs else None
    writes = [s for s in mine if s["name"] == "sink.write"]
    m["sink.bytes_written"] = sum(s["bytes"] for s in writes) if writes else None
    train = [s for s in mine if s["name"] == "ml.train"]
    m["ml.train_s"] = sum(_dur(s) for s in train) if train else None

    mining = [s for s in mine if s["name"] == "constrain.mining"]
    m["constrain.mining_s"] = None
    if mining:
        labels = {s["label"] for s in mining}
        end = max([s["t1"] for s in mining]
                  + [j["completed"] for j in window if j["label"] in labels])
        m["constrain.mining_s"] = end - min(s["t0"] for s in mining)

    lc = [s for s in mine if s["name"].startswith("lc.")]
    for name in LC_CALLS:
        recs = [s for s in lc if s["name"] == name]
        m[f"{name}_s"] = sum(_dur(s) for s in recs) if recs else None
    # run_lc_pipeline's three actions run outside the wrapped (lazy) calls
    m["lc.execute_s"] = wall - sum(_dur(s) for s in lc) if lc else None
    m["lc.jobs"] = tot["jobs"] if lc else None
    cands = [s for s in lc if s["name"] == "lc.candidates"]
    m["lc.candidates_rows"] = sum(s["rows"] for s in cands) if cands else None

    for name in SPARK_SPANS:
        # a resumed stage's read shows in sink.read_s, not here
        recs = [s for s in mine if s["name"] == name and _ran(s)]
        t = spark_of(recs) if recs else None
        m[f"{name}.spark.jobs"] = t["jobs"] if t else None
        m[f"{name}.spark.task_s"] = t["task_s"] if t else None
    return m


def per_layer(tracer: Tracer, sjobs: list[dict], jobs: list[dict], cores: int,
              setup: dict) -> dict:
    """Run-level per-layer metrics: the median over the warm jobs in which
    the layer did work; a layer that worked only in the cold first job
    (the fresh pipeline under ac_redecide) reports that job's value; a
    layer the workload never runs reports 0."""
    per_job = [job_layers(tracer.spans, sjobs, j, cores) for j in jobs
               if j["wall_s"] is not None]
    for j, layers in zip((j for j in jobs if j["wall_s"] is not None), per_job):
        j["layers"] = layers
    out = {k: (v, _unit(k)) for k, v in setup.items()}
    for name in per_job[0]:
        warm = [p[name] for p in per_job[1:] if p[name] is not None]
        if warm:
            value = statistics.median(warm)
        elif per_job[0][name] is not None:
            value = per_job[0][name]
        else:
            value = 0
        out[name] = (value, _unit(name))
    for k in ("spark.jobs", "spark.task_s"):
        out[f"cold.{k}"] = (per_job[0][k], _unit(k))
    return out
