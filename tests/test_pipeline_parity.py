"""End-to-end parity: Spark pipeline vs the serial reference-semantics oracle.

This is the BASELINE.json correctness gate (triple P/R >= 0.95; exact match
expected with deterministic backends) — same P/R-vs-golden math as the
reference's own chunking harness (back/kgg/test/test3.py:228-249).
"""

import dataclasses

import pytest

from knowledgegraphbuilder_spark.config import KGConfig
from knowledgegraphbuilder_spark.operators.chunk import chunk_documents, chunk_words
from knowledgegraphbuilder_spark.operators.relations import TemplateRelationBackend
from knowledgegraphbuilder_spark.plans.checkpoint import (
    CheckpointedPipeline,
    KGResult,
    run_pipeline,
)

from tests import oracle_serial as oracle


@pytest.fixture(scope="module")
def result(corpus_df):
    return run_pipeline(corpus_df, KGConfig())


@pytest.fixture(scope="module")
def golden(corpus):
    return oracle.run_oracle(corpus)


def test_chunker_offsets_exact(spark, corpus):
    # chunk_text must be the exact substring at chunk_offset (the reference
    # re-anchors with str.find; ours is exact by construction)
    for doc_id, text in corpus[:10]:
        for _, ctext, off, _, _ in chunk_words(text, 100, 85):
            assert text[off : off + len(ctext)] == ctext


def test_chunker_spark_matches_serial(spark, corpus_df, corpus):
    from knowledgegraphbuilder_spark.operators.flatten import flatten_documents

    docs = flatten_documents(corpus_df)
    got = {
        (r["doc_id"], r["chunk_idx"], r["chunk_text"], r["chunk_offset"])
        for r in chunk_documents(docs, 100, 15).collect()
    }
    want = set()
    for doc_id, text in corpus:
        for ci, ct, off, _, _ in chunk_words(text, 100, 85):
            want.add((doc_id, ci, ct, off))
    assert got == want


def test_mentions_parity(result, golden):
    got = {
        (r["doc_id"], r["start"], r["end"], r["label"], r["text"])
        for r in result.mentions.collect()
    }
    want = {
        (m["doc_id"], m["start"], m["end"], m["label"], m["text"])
        for m in golden["mentions"]
    }
    assert got == want


def test_mention_ids_deterministic(result, golden):
    got = {r["mention_id"] for r in result.mentions.collect()}
    want = {m["mention_id"] for m in golden["mentions"]}
    assert got == want


def test_relations_parity(result, golden):
    got = {
        (r["doc_id"], r["head_mention_id"], r["rel_type"], r["tail_mention_id"])
        for r in result.relations.collect()
    }
    want = {
        (r["doc_id"], r["head_mention_id"], r["rel_type"], r["tail_mention_id"])
        for r in golden["relations"]
    }
    assert got == want


def test_nodes_parity(result, golden):
    # the pipeline only materializes normalized membership (scale shape);
    # the reference's Node.entities array shape is opted into explicitly here
    from knowledgegraphbuilder_spark.operators.canonicalize import cluster_mentions_exact

    nodes_arr = cluster_mentions_exact(result.mentions, KGConfig(), with_member_arrays=True)
    got = {(r["text"], tuple(r["mention_ids"])) for r in nodes_arr.collect()}
    want = {(t, tuple(ids)) for t, ids in golden["nodes"].items()}
    assert got == want


def test_membership_matches_mentions(result):
    # normalized membership must be a pure 1:1 projection of mentions
    m = {(r["node_id"], r["mention_id"], r["doc_id"]) for r in result.membership.collect()}
    assert len(m) == result.mentions.count()


def test_triples_parity_pr(result, golden):
    got = {(r["subj"], r["pred"], r["obj"]) for r in result.triples.collect()}
    p, r = oracle.precision_recall(got, golden["triples"])
    assert p >= 0.95 and r >= 0.95, (p, r)
    assert p == 1.0 and r == 1.0  # deterministic backends must match exactly


def test_driver_corpus_parity(spark, sf_dir):
    """Same parity on the driver-provided parquet corpus (spans synthesized)."""
    import duckdb

    from knowledgegraphbuilder_spark.sources.interleaved import read_documents_parquet

    spans = read_documents_parquet(spark, sf_dir)
    res = run_pipeline(spans, KGConfig())
    got = {(r["subj"], r["pred"], r["obj"]) for r in res.triples.collect()}

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    docs = [(f"doc_{i}", t) for i, t in rows]
    g = oracle.run_oracle(docs)
    p, r = oracle.precision_recall(got, g["triples"])
    assert p == 1.0 and r == 1.0, (p, r)


def _rows(df, drop=()):
    return sorted(map(repr, df.drop(*drop).collect()))


def test_runners_agree(spark, corpus_df, result, tmp_path_factory):
    """Lazy, eagerly pinned and durable runs of the one stage table return
    the same rows in every result table (provenance's partition_id records
    physical layout, so it is left out)."""
    wd = str(tmp_path_factory.mktemp("parity_ckpt"))
    others = [
        run_pipeline(corpus_df, KGConfig(), materialize="ckpt"),
        CheckpointedPipeline(spark, wd, KGConfig()).run(corpus_df),
    ]
    for field in dataclasses.fields(KGResult):
        drop = ("partition_id",) if field.name == "provenance" else ()
        want = _rows(getattr(result, field.name), drop)
        assert want, field.name
        for res in others:
            assert _rows(getattr(res, field.name), drop) == want, field.name


def test_ckpt_runs_re_backend_once(spark, corpus_df):
    """Under materialize="ckpt" the eager pin of s5_relations is the only
    job that calls the RE backend; reading the relation-derived tables
    afterwards must not call it again."""

    class CountingRE:  # a local class is pickled by value to the workers
        def __init__(self, calls):
            self.calls = calls
            self.inner = TemplateRelationBackend()

        def generate_batch(self, chunk_texts, entity_blocks, ents):
            self.calls.add(len(chunk_texts))
            return self.inner.generate_batch(chunk_texts, entity_blocks, ents)

    calls = spark.sparkContext.accumulator(0)
    res = run_pipeline(corpus_df, KGConfig(), re_backend=CountingRE(calls),
                       materialize="ckpt")
    n = calls.value
    assert n > 0
    for df in (res.triples, res.edges, res.provenance, res.relations):
        df.collect()
    assert calls.value == n


def test_materialize_rejects_unknown_value(corpus_df):
    with pytest.raises(ValueError, match="'none' or 'ckpt'"):
        run_pipeline(corpus_df, KGConfig(), materialize="chkpt")
