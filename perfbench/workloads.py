"""The benchmark workloads. Each one makes its inputs from the seed, loads
them, warms up, then repeats its operation for the run's measured seconds
and checks every result.

An operation is one checkpointed build (``zipf-long``) or one serving cycle
(``qa-ingest``: a micro-batch lands and commits, then one question is
answered). ``traced_op`` runs one operation with every layer call wrapped by
a ``Tracer``.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from perfbench import check, gen, proc


@dataclass
class Samples:
    latencies: list = field(default_factory=list)  # seconds per operation
    items: int = 0          # docs committed
    busy_s: float = 0.0     # wall of the timed operations
    cpu_s: float = 0.0      # process-tree CPU during the timed operations
    attempted: int = 0      # checked results
    failed: int = 0         # results that did not match the expected output
    parts: list = field(default_factory=list)  # per-operation breakdown

    def timed(self, fn):
        c0, t0 = proc.tree_cpu_s(), time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        self.cpu_s += proc.tree_cpu_s() - c0
        self.busy_s += dt
        return out, dt

    def verdict(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Workload:
    name = ""
    min_ops = 2

    def __init__(self, spark, seed: int, work: str):
        from knowledgegraphbuilder_spark.config import KGConfig

        self.spark, self.seed, self.work = spark, seed, work
        self.cfg = KGConfig(gazetteer=gen.zipf_gazetteer())
        self.inputs: dict = {}

    def prepare(self) -> None:
        """Make the inputs from the seed and land them as files."""
        raise NotImplementedError

    def load(self) -> None:
        """Build the program's starting state from the landed inputs."""

    def expect(self) -> None:
        """Compute expected outputs (benchmark work, not set-up)."""

    def op(self, s: Samples) -> float:
        """Run one operation, check it, return its latency."""
        raise NotImplementedError

    def warm(self) -> float:
        """One operation, counted in set-up. The first one in a JVM costs ~2x
        a steady one (class loading, codegen, JIT). The next few still run
        ~10-15% slow and reach steady state only after ~5, which the
        run-length budget cannot pay for; every run measures the same point
        of that curve, so two commits compare like with like."""
        s = Samples()
        dt = self.op(s)
        if s.failed:
            raise RuntimeError(f"{self.name}: wrong output during warm-up")
        return dt

    def measure(self, seconds: float, min_ops: int | None = None) -> Samples:
        """Repeat the operation until ``seconds`` have passed and at least
        ``min_ops`` operations are done."""
        min_ops = self.min_ops if min_ops is None else min_ops
        s = Samples()
        t0 = time.perf_counter()
        while len(s.latencies) < min_ops or time.perf_counter() - t0 < seconds:
            s.latencies.append(self.op(s))
        return s

    def traced_op(self, tracer, backends) -> float:
        """Run one operation with every layer call traced and return its
        seconds, then call the layers the operation does not reach once on
        this workload's own data, so every layer reports a measured figure."""
        raise NotImplementedError

    def graph_matches(self, graph_dir: str, expected: dict) -> bool:
        from knowledgegraphbuilder_spark.sources.sinks import read_graph

        g = read_graph(self.spark, graph_dir)
        return (check.spark_digest(g["edges"], "relation_id") == expected["relations"]
                and check.spark_membership_digest(g["membership"]) == expected["membership"]
                and g["nodes"].count() == expected["nodes"])

    def traced_build(self, tracer, backends, raw, expected: dict) -> float:
        """synthesize_spans -> CheckpointedPipeline.run -> write_graph into
        fresh dirs, each layer in its span; then an untraced resume pass.
        Returns the traced seconds; checks both passes against ``expected``."""
        from knowledgegraphbuilder_spark.plans import checkpoint
        from knowledgegraphbuilder_spark.sources import interleaved, sinks

        for name, layer in (("flatten_documents", "operators.flatten"),
                            ("chunk_documents", "operators.chunk"),
                            ("extract_mentions", "operators.ner"),
                            ("extract_relations", "operators.relations"),
                            ("cluster_mentions_exact", "operators.canonicalize"),
                            ("node_membership", "operators.canonicalize"),
                            ("build_edges", "operators.graph_build"),
                            ("build_triples", "operators.graph_build"),
                            ("build_provenance", "operators.graph_build")):
            tracer.patch(checkpoint, name, layer)
        self.ckpt_dir = fresh_dir(os.path.join(self.work, "traced_ckpt"))
        self.graph_dir = os.path.join(self.work, "traced_graph")
        shutil.rmtree(self.graph_dir, ignore_errors=True)
        t0 = time.perf_counter()
        try:
            spans = tracer.call("sources.interleaved", interleaved.synthesize_spans, raw)
            with tracer.span("plans.checkpoint"):
                res = checkpoint.CheckpointedPipeline(
                    self.spark, self.ckpt_dir, self.cfg, ner_backend=backends.ner,
                    re_backend=backends.re).run(spans)
            with tracer.span("sources.sinks", fn="write_graph"):
                sinks.write_graph(self.graph_dir, nodes=res.nodes, edges=res.edges,
                                  provenance=res.provenance, documents=res.documents,
                                  membership=res.membership)
        finally:
            tracer.restore()
        traced_s = time.perf_counter() - t0
        self.max_mentions = res.nodes.agg({"n_mentions": "max"}).first()[0]
        t0 = time.perf_counter()
        pipe = checkpoint.CheckpointedPipeline(self.spark, self.ckpt_dir, self.cfg)
        n = pipe.run(spans).triples.count()
        self.resume_s = time.perf_counter() - t0
        if not (all(st["resumed"] for st in pipe.stage_log)
                and n == expected["relations"][0]
                and self.graph_matches(self.graph_dir, expected)):
            raise RuntimeError(f"{self.name}: traced build or resume gave a wrong graph")
        return traced_s

    def traced_drain(self, tracer, backends, inbox: str, state: str, stream_ckpt: str) -> float:
        """run_relations_available_now over ``inbox`` into ``state``, with
        its layer calls traced. Returns its seconds."""
        from knowledgegraphbuilder_spark.operators import ner, relations
        from knowledgegraphbuilder_spark.sources import sinks
        from knowledgegraphbuilder_spark.streaming import ingest

        for module, attr, layer in ((ingest, "flatten_documents", "operators.flatten"),
                                    (ingest, "chunk_documents", "operators.chunk"),
                                    (ner, "extract_mentions", "operators.ner"),
                                    (relations, "extract_relations", "operators.relations"),
                                    (sinks, "merge_upsert", "sources.sinks")):
            tracer.patch(module, attr, layer)
        t0 = time.perf_counter()
        try:
            with tracer.span("streaming.ingest", fn="run_relations_available_now"):
                ingest.run_relations_available_now(
                    self.spark, inbox, state, stream_ckpt, self.cfg,
                    ner_backend=backends.ner, re_backend=backends.re)
        finally:
            tracer.restore()
        return time.perf_counter() - t0

    def traced_ask(self, tracer, fn, *args):
        """One retrieval call (single or batch) with ann and pagerank traced
        inside its span. Returns the collected rows and the seconds."""
        from knowledgegraphbuilder_spark.operators import ann, pagerank, retrieval

        for module, attr, layer in ((ann, "ann_lsh", "operators.ann"),
                                    (ann, "ann_lsh_batch", "operators.ann"),
                                    (retrieval, "personalized_pagerank", "operators.pagerank"),
                                    (pagerank, "personalized_pagerank_batch",
                                     "operators.pagerank")):
            tracer.patch(module, attr, layer)
        t0 = time.perf_counter()
        try:
            with tracer.span("operators.retrieval", fn=fn.__name__) as sp:
                rows = fn(*args).collect()
                sp.rows_out = len(rows)
        finally:
            tracer.restore()
        return rows, time.perf_counter() - t0

    def untraced_cost(self, base: Samples) -> float:
        """Seconds the traced operation takes untraced: the last untraced
        operation before it, the one least affected by warm-up."""
        return base.latencies[-1]

    def trace_extras(self) -> dict:
        """Figures the traced build took outside the spans."""
        return {"operators.canonicalize.max_mentions_per_node": self.max_mentions,
                "plans.checkpoint.resume_s": self.resume_s}

    def report(self) -> dict:
        """Workload-specific figures for the report line."""
        return {}


class ZipfLong(Workload):
    """Checkpointed build of a long-document Zipf corpus, then write_graph."""

    name = "zipf-long"
    n_docs, mean_words = 40, 1000

    def prepare(self) -> None:
        self.corpus = gen.zipf_corpus(self.seed, self.n_docs, self.mean_words)
        gen.write_docs(self.corpus, fresh_dir(os.path.join(self.work, "docs")), n_files=8)
        self.inputs = gen.properties(self.corpus, self.cfg.re_chunk_size)

    def load(self) -> None:
        from knowledgegraphbuilder_spark.sources.interleaved import synthesize_spans

        self.raw = self.spark.read.parquet(os.path.join(self.work, "docs"))
        self.spans = synthesize_spans(self.raw)
        self.spans.count()

    def expect(self) -> None:
        self.expected = check.expected_graph(check.oracle(self.corpus))
        self.inputs.update(nodes=self.expected["nodes"],
                           edges=self.expected["relations"][0])

    def build(self, ckpt_dir: str, graph_dir: str) -> None:
        from knowledgegraphbuilder_spark.plans.checkpoint import CheckpointedPipeline
        from knowledgegraphbuilder_spark.sources.sinks import write_graph

        res = CheckpointedPipeline(self.spark, ckpt_dir, self.cfg).run(self.spans)
        write_graph(graph_dir, nodes=res.nodes, edges=res.edges,
                    provenance=res.provenance, documents=res.documents,
                    membership=res.membership)

    def op(self, s: Samples) -> float:
        ckpt = fresh_dir(os.path.join(self.work, "ckpt"))
        graph = os.path.join(self.work, "graph")
        shutil.rmtree(graph, ignore_errors=True)
        _, dt = s.timed(lambda: self.build(ckpt, graph))
        s.items += len(self.corpus)
        s.verdict(self.graph_matches(graph, self.expected))
        return dt

    def traced_op(self, tracer, backends) -> float:
        from knowledgegraphbuilder_spark.operators.retrieval import (
            index_edges,
            retrieve_documents,
        )
        from knowledgegraphbuilder_spark.sources.sinks import read_graph

        traced_s = self.traced_build(tracer, backends, self.raw, self.expected)
        # the layers a build does not reach: one question over the graph just
        # built, and one micro-batch merged into its relation checkpoint
        g = read_graph(self.spark, self.graph_dir)
        index = index_edges(g["edges"], self.cfg.embedding_dim).localCheckpoint()
        question = gen.questions(self.seed, self.corpus, 1)[0]
        rows, _ = self.traced_ask(tracer, retrieve_documents, g["edges"], g["membership"],
                                  index, question, self.cfg)
        batch = gen.zipf_corpus(self.seed, 4, self.mean_words, stream=100,
                                first_id=1_000_000)
        inbox = fresh_dir(os.path.join(self.work, "inbox"))
        gen.land_spans(batch, fresh_dir(os.path.join(self.work, "landing")), inbox)
        state = os.path.join(self.ckpt_dir, "s5_relations")
        self.traced_drain(tracer, backends, inbox, state, os.path.join(self.work, "stream"))
        want = check.add(self.expected["relations"], check.digest_keys(
            r["relation_id"] for r in check.oracle(batch)["relations"]))
        if len(rows) != self.cfg.retrieval_k or check.spark_digest(
                self.spark.read.parquet(state), "relation_id") != want:
            raise RuntimeError("zipf-long: traced question or micro-batch gave a wrong result")
        return traced_s


class QAIngest(Workload):
    """A live graph: each cycle, a small Zipf micro-batch lands as one file
    and is drained by run_relations_available_now into a seeded relation
    table (merge_upsert), then one question is answered over the graph."""

    name = "qa-ingest"
    qa_docs, n_questions = 30, 6
    seed_docs, replicas, batch_docs = 20, 10, 4
    mean_words = 1000

    # -- inputs --------------------------------------------------------------

    def prepare(self) -> None:
        self.qa_corpus = gen.zipf_corpus(self.seed, self.qa_docs, self.mean_words)
        qa_oracle = check.oracle(self.qa_corpus)
        self._land_graph(qa_oracle)
        self.qa_expected = check.expected_graph(qa_oracle)
        gen.write_docs(self.qa_corpus, fresh_dir(os.path.join(self.work, "qa_docs")), n_files=4)
        self.questions = gen.questions(self.seed, self.qa_corpus, self.n_questions)
        base = gen.zipf_corpus(self.seed, self.seed_docs, self.mean_words, stream=4)
        self._land_state(check.oracle(base)["relations"])
        self.inbox = fresh_dir(os.path.join(self.work, "inbox"))
        self.landing = fresh_dir(os.path.join(self.work, "landing"))
        self.ckpt = os.path.join(self.work, "stream_ckpt")
        shutil.rmtree(self.ckpt, ignore_errors=True)
        self.next_batch = self.next_q = 0
        self.asked: list[tuple[int, list]] = []
        batch_rows = statistics.mean(
            len(check.oracle(self._batch(k))["relations"]) for k in range(2))
        self.inputs.update(state_rows=self.expected[0],
                           state_to_batch_rows=self.expected[0] / batch_rows,
                           micro_batch_docs=self.batch_docs)

    def _land_graph(self, o: dict) -> None:
        """The graph tables exactly as build_edges/node_membership make them
        from this corpus (zipf-long checks the program against the same
        oracle)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        rel, ms = o["relations"], o["mentions"]
        nid = {t: check.node_id(t) for t in o["nodes"]}
        tables = {
            "edges": {
                "edge_id": [r["relation_id"] for r in rel],
                "head_node_id": [nid[r["head_text"]] for r in rel],
                "tail_node_id": [nid[r["tail_text"]] for r in rel],
                "rel_type": [r["rel_type"] for r in rel],
                "description": [r["description"] for r in rel],
                "relation_id": [r["relation_id"] for r in rel],
                "doc_id": [r["doc_id"] for r in rel],
                "weight": [self.cfg.default_edge_weight] * len(rel),
            },
            "membership": {
                "node_id": [nid[m["text"]] for m in ms],
                "mention_id": [m["mention_id"] for m in ms],
                "doc_id": [m["doc_id"] for m in ms],
                "text": [m["text"] for m in ms],
            },
        }
        for name, cols in tables.items():
            d = fresh_dir(os.path.join(self.work, "graph", name))
            pq.write_table(pa.table(cols), os.path.join(d, "part-0.parquet"))
        self.inputs = gen.properties(self.qa_corpus, self.cfg.re_chunk_size)
        self.inputs.update(nodes=len(nid), edges=len(rel))

    def _land_state(self, rel: list[dict]) -> None:
        """The relation table: one extraction replicated under shifted
        doc/relation ids."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        label = dict(self.cfg.gazetteer)
        cols: dict[str, list] = {c: [] for c in (
            "relation_id", "doc_id", "head_mention_id", "tail_mention_id", "rel_type",
            "description", "head_text", "head_label", "tail_text", "tail_label")}
        for rep in range(self.replicas):
            for r in rel:
                cols["relation_id"].append(
                    hashlib.sha256(f"{r['relation_id']}~{rep}".encode()).hexdigest())
                cols["doc_id"].append(f"{r['doc_id']}~{rep}")
                for c in ("head_mention_id", "tail_mention_id", "rel_type",
                          "description", "head_text", "tail_text"):
                    cols[c].append(r[c])
                cols["head_label"].append(label[r["head_text"]])
                cols["tail_label"].append(label[r["tail_text"]])
        self.state = fresh_dir(os.path.join(self.work, "state"))
        table = pa.table(cols)
        step = -(-table.num_rows // 4)
        for f in range(4):
            pq.write_table(table.slice(f * step, step),
                           os.path.join(self.state, f"part-{f}.parquet"))
        open(os.path.join(self.state, "_SUCCESS"), "w").close()
        self.expected = check.digest_keys(cols["relation_id"])

    def _batch(self, k: int) -> gen.Corpus:
        return gen.zipf_corpus(self.seed, self.batch_docs, self.mean_words,
                               stream=100 + k, first_id=1_000_000 * (k + 1))

    # -- program state -------------------------------------------------------

    def load(self) -> None:
        from knowledgegraphbuilder_spark.operators.retrieval import index_edges

        par = self.spark.sparkContext.defaultParallelism

        def pinned(name):
            return (self.spark.read.parquet(os.path.join(self.work, "graph", name))
                    .repartition(par).localCheckpoint())

        self.edges, self.membership = pinned("edges"), pinned("membership")
        self.index = index_edges(self.edges, self.cfg.embedding_dim).localCheckpoint()
        self.qdf = self.spark.createDataFrame(
            list(enumerate(self.questions)), "query_id long, query_text string"
        ).localCheckpoint()

    def measure(self, seconds: float, min_ops: int | None = None) -> Samples:
        """Cycles, then one batch call over the questions: every single
        answer given so far must equal its row of the batch answer."""
        s = super().measure(seconds, min_ops)
        t0 = time.perf_counter()
        batch = self.ask_batch()
        self.batch_s = time.perf_counter() - t0
        s.verdict(sorted(batch) == list(range(len(self.questions))) and all(
            len(a) == self.cfg.retrieval_k for a in batch.values()))
        for i, ans in self.asked:
            s.verdict(batch.get(i) == ans)
        self.asked = []
        self.answers = batch
        return s

    def report(self) -> dict:
        return {"batch_s": self.batch_s,
                "batch_queries_per_s": len(self.questions) / self.batch_s}

    # -- operations ------------------------------------------------------------

    def take_batch(self) -> gen.Corpus:
        b = self._batch(self.next_batch)
        self.next_batch += 1
        rel = check.oracle(b)["relations"]
        self.expected = check.add(self.expected, check.digest_keys(r["relation_id"] for r in rel))
        return b

    def drain(self) -> None:
        from knowledgegraphbuilder_spark.streaming.ingest import run_relations_available_now

        run_relations_available_now(self.spark, self.inbox, self.state, self.ckpt, self.cfg)

    def ask(self, i: int):
        from knowledgegraphbuilder_spark.operators.retrieval import retrieve_documents

        rows = retrieve_documents(self.edges, self.membership, self.index,
                                  self.questions[i], self.cfg).collect()
        return [(r["doc_id"], r["weight"]) for r in rows]

    def ask_batch(self) -> dict[int, list]:
        from knowledgegraphbuilder_spark.operators.retrieval import retrieve_documents_batch

        out: dict[int, list] = {}
        for r in retrieve_documents_batch(self.edges, self.membership, self.index,
                                          self.qdf, self.cfg).collect():
            out.setdefault(int(r["query_id"]), []).append((r["doc_id"], r["weight"]))
        return {q: sorted(v, key=lambda x: (-x[1], x[0])) for q, v in out.items()}

    def check_state(self) -> bool:
        return check.spark_digest(self.spark.read.parquet(self.state),
                                  "relation_id") == self.expected

    def cycle(self, i: int):
        """Drain the landed micro-batch, answer question ``i``. Returns the
        answer and (commit latency from the landing, question latency)."""
        t0 = time.perf_counter()
        self.drain()
        t1 = time.perf_counter()
        ans = self.ask(i)
        return ans, (t1 - t0, time.perf_counter() - t1)

    def op(self, s: Samples) -> float:
        b, i = self.take_batch(), self.next_q % len(self.questions)
        self.next_q += 1
        # landing the file is the benchmark's work: it is outside the timing
        gen.land_spans(b, self.landing, self.inbox)
        (ans, (commit_s, ask_s)), _ = s.timed(lambda: self.cycle(i))
        s.items += len(b)
        s.verdict(self.check_state())
        self.asked.append((i, ans))
        s.parts.append({"microbatch_s": commit_s, "query_s": ask_s})
        return commit_s + ask_s

    def traced_op(self, tracer, backends) -> float:
        from knowledgegraphbuilder_spark.operators.retrieval import (
            retrieve_documents,
            retrieve_documents_batch,
        )

        b, i = self.take_batch(), self.next_q % len(self.questions)
        gen.land_spans(b, self.landing, self.inbox)
        drain_s = self.traced_drain(tracer, backends, self.inbox, self.state, self.ckpt)
        rows, ask_s = self.traced_ask(tracer, retrieve_documents, self.edges, self.membership,
                                      self.index, self.questions[i], self.cfg)
        batch, _ = self.traced_ask(tracer, retrieve_documents_batch, self.edges,
                                   self.membership, self.index, self.qdf, self.cfg)
        ans = [(r["doc_id"], r["weight"]) for r in rows]
        if not (self.check_state() and ans == self.answers[i]
                and len(batch) == len(self.questions) * self.cfg.retrieval_k):
            raise RuntimeError("qa-ingest: traced cycle gave a wrong result")
        # the layers a cycle does not reach: a checkpointed build of the QA
        # corpus, whose graph must match the one the questions ran over
        self.traced_build(tracer, backends,
                          self.spark.read.parquet(os.path.join(self.work, "qa_docs")),
                          self.qa_expected)
        return drain_s + ask_s


WORKLOADS = {w.name: w for w in (ZipfLong, QAIngest)}
