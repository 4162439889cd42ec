"""Stage runner: a declared stage graph, fingerprinted commits, resume.

The reference resumes an interrupted run from per-key memo caches, each
entry keyed by what it was computed from (cache.py:46-51). The Spark-native
equivalent here: a pipeline is declared once as a list of ``Stage``s (name,
upstream stages, parameters, input frames, function, sink layout) and
``run_graph`` executes it. Each committed stage writes its output once
through the sink and then atomically writes ``_<name>.COMMITTED``; a later
run reads the committed output back instead of recomputing it.

Fingerprint. Every stage has a key: a hash of its name, its parameters,
its sink layout, its upstream stages' keys and its input frames'
``DataFrame.semanticHash()`` (a driver-side plan hash; no Spark job). The
marker stores the key and the commit ids (``run_id``) of the upstream
commits the stage read. Before anything runs, ``run_graph`` marks a stage
dirty when its marker is missing, its key differs, an upstream stage is
dirty, or an upstream stage now carries a different commit id than the one
recorded. Dirty stages rerun; invalidation therefore cascades downstream
by construction. Examples: a new ``threshold`` reruns decide and
materialize; a changed input frame reruns every stage that reads it and
everything below. A changed stage *function* is not covered (code is not
hashed): after a code change, run into a fresh workdir. Input frames hash
by plan, so a frame read from files that were rewritten in place keys
differently, while frames rebuilt from the same plan in a new process key
the same.

Execution. Every stage runs on one thread pool and waits only on the
stages it depends on, so independent branches overlap. Clean stages
resume without waiting. Uncommitted stages (``commit=False``) hold
in-memory intermediates; they run only when a dirty stage needs them and
never appear in ``ctx.ran``. When the run ends, ``ctx.ran`` lists the
committed stages in declared order.

Lineage is fused into the write job itself — no extra Spark jobs:
  * the row count comes from an ``Observation`` attached to the written
    DataFrame (computed inside the write job, like Iceberg's snapshot
    summary metrics);
  * the per-partition rows come from the written parquet file footers,
    read driver-side with pyarrow (a pure metadata operation — the exact
    information an Iceberg manifest carries per data file, so on a real
    cluster this becomes a manifest read, not a scan).
Each stage's lineage lives in its own overwrite-mode file stamped with the
run id, so a rerun or a crash-then-resume never double counts rows.

Sinks are pluggable (SURVEY §7.0): the default ``ParquetDirSink`` writes
partitioned parquet with an atomic commit marker (Iceberg snapshot commit
stand-in); ``CatalogTableSink`` routes the identical stage contract through
the DataSourceV2 ``df.writeTo(table)`` API against the session catalog —
point it at an Iceberg catalog (format='iceberg', table_prefix
'catalog.namespace') on a real cluster and each stage boundary becomes a
true Iceberg snapshot commit with manifest-carried lineage.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


@dataclass
class Stage:
    """One declared stage. ``fn`` is called with keyword arguments: each
    dependency's output, each input frame and each parameter by name —
    exactly what the fingerprint covers."""

    name: str
    fn: Callable[..., DataFrame]
    deps: tuple[str, ...] = ()
    params: dict = field(default_factory=dict)
    frames: dict[str, DataFrame] = field(default_factory=dict)
    partition_by: list[str] | None = None
    repartition: tuple[int, list[str]] | None = None
    commit: bool = True

    def fingerprint(self, upstream: dict[str, str]) -> str:
        """Hash of the name, parameters, sink layout, upstream fingerprints
        and input frames' plans; runs no Spark job."""
        doc = [self.name, self.params, self.partition_by, self.repartition, upstream,
               {n: df.semanticHash() for n, df in self.frames.items()}]
        blob = json.dumps(doc, sort_keys=True, default=repr).encode()
        return hashlib.sha256(blob).hexdigest()[:16]


@dataclass
class StageResult:
    name: str
    df: DataFrame
    resumed: bool
    rows_out: int
    wall_s: float


def _footer_lineage(out: str) -> list[tuple[int, int]]:
    """(partition_id, rows) per written data file, from parquet footers
    only — no Spark job, no data scan. partition_id is the writer task id
    parsed from the part-NNNNN filename."""
    import pyarrow.parquet as pq

    rows = []
    for root, _dirs, files in os.walk(out):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            pid = int(fn.split("-")[1]) if fn.startswith("part-") else len(rows)
            n = pq.ParquetFile(os.path.join(root, fn)).metadata.num_rows
            rows.append((pid, n))
    return sorted(rows)


class ParquetDirSink:
    """Default sink: one partitioned-parquet directory per stage under the
    workdir. The atomic marker rename in PipelineContext.stage is the
    snapshot-commit stand-in."""

    def write(self, ctx: "PipelineContext", name: str, df: DataFrame,
              partition_by: list[str] | None) -> None:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(os.path.join(ctx.workdir, name))

    def read(self, ctx: "PipelineContext", name: str) -> DataFrame:
        return ctx.spark.read.parquet(os.path.join(ctx.workdir, name))

    def data_dir(self, ctx: "PipelineContext", name: str) -> str | None:
        return os.path.join(ctx.workdir, name)


class CatalogTableSink:
    """Iceberg-layout sink (SURVEY §7.0): stages write through the
    DataSourceV2 ``df.writeTo(<prefix><stage>)`` API instead of a path.

    On a cluster with an Iceberg catalog configured, construct with
    format='iceberg' and table_prefix='catalog.namespace.' — then
    createOrReplace() is an atomic Iceberg snapshot swap and per-file
    lineage comes from the manifest. The sandbox session catalog supports
    the same writeTo layout contract for parquet tables but not RTAS, so
    the write falls back to drop + create there; the stage-level atomic
    resume marker still provides the commit point either way.
    """

    def __init__(self, table_prefix: str = "", fmt: str = "parquet"):
        self.table_prefix = table_prefix
        self.fmt = fmt

    def table(self, name: str) -> str:
        return f"{self.table_prefix}{name}"

    def write(self, ctx: "PipelineContext", name: str, df: DataFrame,
              partition_by: list[str] | None) -> None:
        from pyspark.errors import AnalysisException

        w = df.writeTo(self.table(name)).using(self.fmt)
        if partition_by:
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        try:
            w.createOrReplace()  # atomic snapshot swap on v2 catalogs
        except AnalysisException as ex:
            # Only the known capability gap falls back: the sandbox session
            # catalog cannot run REPLACE TABLE AS SELECT. Anything else
            # (executor loss, OOM, quota) re-raises so a transient failure
            # never drop+retries away the previous committed snapshot.
            # Match the stable error condition first (message wording
            # varies across Spark versions), message substrings as backup.
            msg = str(ex)
            if not ((ex.getCondition() or "").startswith("UNSUPPORTED_FEATURE")
                    or "REPLACE TABLE AS SELECT" in msg or "RTAS" in msg):
                raise
            ctx.spark.sql(f"DROP TABLE IF EXISTS {self.table(name)}")
            w.create()

    def read(self, ctx: "PipelineContext", name: str) -> DataFrame:
        return ctx.spark.table(self.table(name))

    def data_dir(self, ctx: "PipelineContext", name: str) -> str | None:
        """Table location for footer lineage; an Iceberg deployment reads
        per-file rows from the manifest instead."""
        for r in ctx.spark.sql(f"DESCRIBE FORMATTED {self.table(name)}").collect():
            if r["col_name"].strip() == "Location":
                return re.sub(r"^file:(//)?", "", r["data_type"].strip())
        return None


@dataclass
class PipelineContext:
    spark: SparkSession
    workdir: str
    ran: list[StageResult] = field(default_factory=list)
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    sink: object = field(default_factory=ParquetDirSink)

    def commit(self, name: str) -> dict | None:
        """The stage's commit marker, or None when it has none."""
        try:
            with open(os.path.join(self.workdir, f"_{name}.COMMITTED")) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def stage(self, name: str, fn, *, partition_by: list[str] | None = None,
              repartition: tuple[int, list[str]] | None = None,
              key: dict | None = None) -> DataFrame:
        """Run (or resume) one stage. ``fn() -> DataFrame``. Resumes when
        the commit marker carries the same ``key``.

        repartition=(n, cols): explicit pre-sink repartition — the north
        rule requires it after extraction and before components so the
        downstream shuffle layout is chosen deliberately, not inherited.
        """
        done = self.commit(name)
        if done and done.get("key") == key:
            df = self.sink.read(self, name)
            self.ran.append(StageResult(name, df, True, done["rows_out"], 0.0))
            return df

        t0 = time.time()
        df = fn()
        if repartition:
            n, cols = repartition
            df = df.repartition(n, *[F.col(c) for c in cols])
        obs = Observation(f"lineage_{name}_{self.run_id}")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows_out"))
        self.sink.write(self, name, df, partition_by)
        rows = int(obs.get["rows_out"])  # computed inside the write job

        # per-partition lineage from footers — metadata-only, zero jobs
        import pyarrow as pa
        import pyarrow.parquet as pq

        data_dir = self.sink.data_dir(self, name)
        per_part = _footer_lineage(data_dir) if data_dir else []
        lin_dir = os.path.join(self.workdir, "_lineage")
        os.makedirs(lin_dir, exist_ok=True)
        pq.write_table(
            pa.table({
                "partition_id": pa.array([p for p, _ in per_part], pa.int32()),
                "rows_out": pa.array([n for _, n in per_part], pa.int64()),
                "stage": pa.array([name] * len(per_part), pa.string()),
                "run_id": pa.array([self.run_id] * len(per_part), pa.string()),
            }),
            os.path.join(lin_dir, f"{name}.parquet"),  # overwrite per stage
        )

        wall = time.time() - t0
        marker = os.path.join(self.workdir, f"_{name}.COMMITTED")
        with open(marker + ".tmp", "w") as f:
            json.dump({"stage": name, "rows_out": rows, "wall_s": wall,
                       "run_id": self.run_id, "key": key}, f)
        os.replace(marker + ".tmp", marker)  # atomic commit — resume boundary
        committed = self.sink.read(self, name)
        self.ran.append(StageResult(name, committed, False, rows, wall))
        return committed

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.workdir, "_lineage"))


def run_graph(ctx: PipelineContext, stages: list[Stage]) -> PipelineContext:
    """Plan, then run ``stages`` (declared in dependency order) on one pool;
    the module docstring says what makes a stage dirty."""
    by_name = {s.name: s for s in stages}
    prints: dict[str, str] = {}
    dirty: set[str] = set()
    futures: dict = {}

    def key(s: Stage) -> dict:
        ups = {d: (ctx.commit(d) or {}).get("run_id") for d in s.deps if by_name[d].commit}
        return {"fingerprint": prints[s.name], "upstream": ups}

    for s in stages:
        prints[s.name] = s.fingerprint({d: prints[d] for d in s.deps})
        done = ctx.commit(s.name)
        if s.commit and (dirty & set(s.deps) or not done or done.get("key") != key(s)):
            dirty.add(s.name)
    needed = set(dirty)
    for s in reversed(stages):
        if s.name in needed:
            needed.update(d for d in s.deps if not by_name[d].commit)

    def run(s: Stage):
        # a clean stage resumes without waiting; a dirty one waits for its
        # inputs, so the upstream commit ids in its key are final
        ups = {d: futures[d].result() for d in s.deps} if s.name in needed else {}
        fn = partial(s.fn, **ups, **s.frames, **s.params)
        if not s.commit:
            return fn()
        return ctx.stage(s.name, fn, partition_by=s.partition_by,
                         repartition=s.repartition, key=key(s))

    todo = [s for s in stages if s.commit or s.name in needed]
    with ThreadPoolExecutor(max_workers=len(todo)) as pool:
        for s in todo:
            futures[s.name] = pool.submit(run, s)
        for f in futures.values():
            f.result()
    order = [s.name for s in stages]
    ctx.ran.sort(key=lambda r: order.index(r.name))
    return ctx
