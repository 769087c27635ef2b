"""The KG-construction stage graph, declared once and run two ways: the
Spark-native analog of ``KnowledgeGraphGenerator.generate``
(back/kgg/generator.py:30-74).

Stage graph (SURVEY.md §7.2): spans -> flatten -> chunk -> mentions ->
relations -> nodes -> edges -> triples/provenance. ``STAGES`` lists it in
execution order; every stage is a pure DataFrame -> DataFrame function.

- ``run_pipeline`` executes the table in memory: fully lazy (one Catalyst
  plan) or with the fan-out stages pinned by eager ``localCheckpoint``.
- ``CheckpointedPipeline`` executes it durably, the generalization of the
  reference's whole-graph JSON cache (back/kgg/generator.py:42-53,76-122):
  instead of one opaque cache file, every stage writes a parquet checkpoint
  table (stands in for an Iceberg table in the sandbox — same
  createOrReplace semantics, minus snapshot isolation) plus per-partition
  lineage rows. A stage whose checkpoint exists is skipped on resume;
  because every id is content-hashed (functions/ids.py), a resumed run
  produces byte-identical triples — uuid4 (reference) could not.

Lineage rows: (run_id, stage, partition_id, n_rows, wall_s, ts) — wall_s is
stage wall clock (per-partition timing would need accumulators; row counts
are per physical partition).
"""

from __future__ import annotations

import functools
import json
import time
import uuid
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from knowledgegraphbuilder_spark.config import KGConfig
from knowledgegraphbuilder_spark.operators.canonicalize import (
    cluster_mentions_exact,
    node_membership,
)
from knowledgegraphbuilder_spark.operators.chunk import chunk_documents
from knowledgegraphbuilder_spark.operators.flatten import flatten_documents
from knowledgegraphbuilder_spark.operators.graph_build import (
    build_edges,
    build_provenance,
    build_triples,
)
from knowledgegraphbuilder_spark.operators.ner import extract_mentions
from knowledgegraphbuilder_spark.operators.relations import extract_relations


@dataclass
class KGResult:
    documents: DataFrame  # flattened (doc_id, text, media_refs, spans)
    mentions: DataFrame
    relations: DataFrame
    nodes: DataFrame
    membership: DataFrame
    edges: DataFrame
    triples: DataFrame
    provenance: DataFrame


class _Build(NamedTuple):
    """What every stage may read besides its input tables."""

    cfg: KGConfig
    ner_backend: object | None
    re_backend: object | None


# (name, inputs, make): make(build, *input tables) -> DataFrame. "spans" is
# the pipeline input. The lambdas resolve the operators through this
# module's globals at call time, so patching a name here reroutes both
# runners. Normalized membership is the at-scale node representation; the
# member-ID arrays (reference ``Node.entities`` parity shape) would put every
# mention id of a head surface form into ONE row — multi-GB at 10^12
# mentions — so the pipeline never materializes them (parity tests opt in
# explicitly via with_member_arrays=True).
STAGES = (
    ("s1_documents", ("spans",), lambda b, spans: flatten_documents(spans)),
    ("s2_ner_chunks", ("s1_documents",),
     lambda b, docs: chunk_documents(docs, b.cfg.ner_chunk_size, b.cfg.ner_chunk_overlap)),
    ("s4_mentions", ("s2_ner_chunks",),
     lambda b, chunks: extract_mentions(chunks, b.cfg, backend=b.ner_backend)),
    ("s2_re_chunks", ("s1_documents",),
     lambda b, docs: chunk_documents(docs, b.cfg.re_chunk_size, b.cfg.re_chunk_overlap)),
    ("s5_relations", ("s2_re_chunks", "s4_mentions"),
     lambda b, chunks, mentions: extract_relations(
         chunks, mentions, b.cfg, backend=b.re_backend)),
    ("s7_nodes", ("s4_mentions",),
     lambda b, mentions: cluster_mentions_exact(mentions, b.cfg, with_member_arrays=False)),
    ("s7_membership", ("s4_mentions",), lambda b, mentions: node_membership(mentions)),
    ("s8_edges", ("s5_relations", "s7_nodes"),
     lambda b, relations, nodes: build_edges(relations, nodes, b.cfg.default_edge_weight)),
    ("s9_triples", ("s8_edges", "s7_nodes"), lambda b, edges, nodes: build_triples(edges, nodes)),
    ("s9_provenance", ("s5_relations",), lambda b, relations: build_provenance(relations)),
)

_RESULT_STAGES = {
    "documents": "s1_documents", "mentions": "s4_mentions",
    "relations": "s5_relations", "nodes": "s7_nodes",
    "membership": "s7_membership", "edges": "s8_edges",
    "triples": "s9_triples", "provenance": "s9_provenance",
}

# fan-out points: mentions feeds the relation join, the resolution
# dictionary, clustering and membership; relations and nodes each feed two
# graph tables
_PINNED = ("s4_mentions", "s5_relations", "s7_nodes")


def _execute(spans_df: DataFrame, build: _Build, stage) -> KGResult:
    """Run ``STAGES`` in order; ``stage(name, make)`` turns each stage's
    zero-argument ``make`` into the DataFrame its consumers read."""
    tables = {"spans": spans_df}
    for name, inputs, make in STAGES:
        tables[name] = stage(name, functools.partial(make, build, *(tables[i] for i in inputs)))
    return KGResult(**{field: tables[name] for field, name in _RESULT_STAGES.items()})


def _dependents(stages) -> set[str]:
    """``stages`` plus every stage that reads one of them, transitively."""
    out = set(stages)
    for name, inputs, _ in STAGES:  # STAGES is in dependency order
        if out.intersection(inputs):
            out.add(name)
    return out


def run_pipeline(
    spans_df: DataFrame,
    config: KGConfig | None = None,
    ner_backend: object | None = None,
    re_backend: object | None = None,
    materialize: str = "none",
) -> KGResult:
    """In-memory run of ``STAGES``. ``materialize`` pins the fan-out stages:

    - ``"none"`` (default): fully lazy — right for one-shot small queries.
    - ``"ckpt"``: EAGER ``localCheckpoint`` of each fan-out stage — computes
      every inference UDF stage exactly once and truncates lineage; the fast
      choice for bulk runs (measured: persist's InMemoryRelation barriers
      serialize the job into waves and cost ~2x at high core counts).
      Eagerness matters: with lazy checkpoints, one action over the whole
      graph can schedule the fan-out consumers as CONCURRENT stages, each
      recomputing the full pre-checkpoint inference lineage before the
      checkpoint materializes — measured 1.8-2.3x total CPU, nondeterministic
      (it needs spare task slots, so it inflated only the wide scaling leg).

    At cluster scale prefer ``CheckpointedPipeline`` (durable + resumable)."""
    if materialize not in ("none", "ckpt"):
        raise ValueError(f"materialize must be 'none' or 'ckpt', got {materialize!r}")

    def stage(name, make):
        df = make()
        if materialize == "ckpt" and name in _PINNED:
            df = df.localCheckpoint(eager=True)
        return df

    return _execute(spans_df, _Build(config or KGConfig(), ner_backend, re_backend), stage)


class CheckpointedPipeline:
    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        config: KGConfig | None = None,
        ner_backend: object | None = None,
        re_backend: object | None = None,
    ):
        self.spark = spark
        self.work_dir = work_dir.rstrip("/")
        self.cfg = config or KGConfig()
        self.ner_backend = ner_backend
        self.re_backend = re_backend
        self.run_id = uuid.uuid4().hex[:12]
        self.stage_log: list[dict] = []

    # -- checkpoint mechanics ------------------------------------------------

    def _path(self, stage: str) -> str:
        return f"{self.work_dir}/{stage}"

    def _hadoop_path(self, path: str):
        """Resolve through the Hadoop FileSystem API so checkpoint probing,
        invalidation and the run manifest work on any scheme the cluster
        writes to (file://, hdfs://, s3a://) — a local os.path probe would
        silently re-run every stage when work_dir is an object store."""
        jpath = self.spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs, jpath

    def _done(self, stage: str) -> bool:
        fs, jpath = self._hadoop_path(self._path(stage) + "/_SUCCESS")
        return fs.exists(jpath)

    def _stage(self, name: str, make, force: bool = False) -> DataFrame:
        t0 = time.time()
        path = self._path(name)
        resumed = self._done(name) and not force
        if not resumed:
            make().write.mode("overwrite").parquet(path)
        df = self.spark.read.parquet(path)
        wall = time.time() - t0
        lineage = (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("n_rows"))
            .select(
                F.lit(self.run_id).alias("run_id"),
                F.lit(name).alias("stage"),
                "partition_id",
                "n_rows",
                F.lit(round(wall, 3)).alias("wall_s"),
                F.lit(resumed).alias("resumed"),
                F.current_timestamp().alias("ts"),
            )
        )
        lineage.write.mode("append").parquet(f"{self.work_dir}/_lineage")
        self.stage_log.append(
            {"stage": name, "resumed": resumed, "wall_s": round(wall, 3)}
        )
        return df

    def _write_manifest(self) -> None:
        fs, jpath = self._hadoop_path(f"{self.work_dir}/_run_{self.run_id}.json")
        out = fs.create(jpath, True)
        try:
            out.write(bytearray(json.dumps(self.stage_log).encode()))
        finally:
            out.close()

    def invalidate(self, *stages: str) -> None:
        """Delete the named stages' checkpoints and those of every stage
        downstream of them, so the next run cannot resume a table built from
        the old inputs."""
        for s in _dependents(stages):
            fs, jpath = self._hadoop_path(self._path(s))
            if fs.exists(jpath):
                fs.delete(jpath, True)

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.work_dir}/_lineage")

    # -- the pipeline --------------------------------------------------------

    def run(self, spans_df: DataFrame, force: bool = False) -> KGResult:
        build = _Build(self.cfg, self.ner_backend, self.re_backend)
        res = _execute(spans_df, build, lambda name, make: self._stage(name, make, force))
        self._write_manifest()
        return res
