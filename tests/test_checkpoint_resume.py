"""Resume-idempotency: checkpointed stages skip recompute; invalidating a
mid-pipeline stage recomputes downstream to byte-identical triples
(BASELINE.json north rule)."""

import json

from knowledgegraphbuilder_spark.config import KGConfig
from knowledgegraphbuilder_spark.plans.checkpoint import CheckpointedPipeline


def _triples(res):
    return sorted(
        (r["subj"], r["pred"], r["obj"], r["doc_id"], r["edge_id"])
        for r in res.triples.collect()
    )


def test_checkpoint_resume_idempotent(spark, corpus_df, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("ckpt"))
    p1 = CheckpointedPipeline(spark, wd, KGConfig())
    r1 = p1.run(corpus_df)
    t1 = _triples(r1)
    assert all(not s["resumed"] for s in p1.stage_log)

    # full resume: every stage skipped, identical output
    p2 = CheckpointedPipeline(spark, wd, KGConfig())
    r2 = p2.run(corpus_df)
    assert all(s["resumed"] for s in p2.stage_log)
    assert _triples(r2) == t1

    # invalidate a mid-pipeline stage: recompute downstream, same bytes
    p3 = CheckpointedPipeline(spark, wd, KGConfig())
    p3.invalidate("s5_relations", "s8_edges", "s9_triples", "s9_provenance")
    r3 = p3.run(corpus_df)
    flags = {s["stage"]: s["resumed"] for s in p3.stage_log}
    assert flags["s4_mentions"] and not flags["s5_relations"] and not flags["s9_triples"]
    assert _triples(r3) == t1


def test_lineage_rows(spark, corpus_df, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("ckpt2"))
    p = CheckpointedPipeline(spark, wd, KGConfig())
    res = p.run(corpus_df)
    lin = p.lineage().collect()
    stages = {r["stage"] for r in lin}
    assert {"s1_documents", "s4_mentions", "s5_relations", "s9_triples"} <= stages
    by_stage = {}
    for r in lin:
        by_stage[r["stage"]] = by_stage.get(r["stage"], 0) + r["n_rows"]
    assert by_stage["s9_triples"] == res.triples.count()
    assert all(r["wall_s"] >= 0 for r in lin)


def test_invalidate_recomputes_every_dependent(spark, corpus_df, tmp_path_factory):
    """Invalidating one stage also drops everything built from it: nothing
    downstream of s4_mentions may resume from the old mentions."""
    wd = str(tmp_path_factory.mktemp("ckpt_inval"))
    t1 = _triples(CheckpointedPipeline(spark, wd, KGConfig()).run(corpus_df))

    p = CheckpointedPipeline(spark, wd, KGConfig())
    p.invalidate("s4_mentions")
    r = p.run(corpus_df)
    flags = {s["stage"]: s["resumed"] for s in p.stage_log}
    resumed = {"s1_documents", "s2_ner_chunks", "s2_re_chunks"}
    assert {s for s, f in flags.items() if f} == resumed
    assert set(flags) - resumed == {
        "s4_mentions", "s5_relations", "s7_nodes", "s7_membership",
        "s8_edges", "s9_triples", "s9_provenance",
    }
    assert _triples(r) == t1


def test_manifest_on_file_uri_work_dir(spark, corpus_df, tmp_path_factory):
    """A file:// work_dir goes through the Hadoop FileSystem API end to end,
    the run manifest included."""
    wd = tmp_path_factory.mktemp("ckpt_uri")
    p = CheckpointedPipeline(spark, wd.as_uri(), KGConfig())
    p.run(corpus_df)
    assert len(p.stage_log) == 10
    manifest = wd / f"_run_{p.run_id}.json"
    assert json.loads(manifest.read_text()) == p.stage_log


def test_vacuum_snapshots_keeps_fallback_versions(spark, tmp_path):
    """A table version only written in an OLD snapshot survives vacuum
    when a retained snapshot still resolves to it via fallback."""
    from knowledgegraphbuilder_spark.sources.sinks import (
        read_graph_snapshot, read_snapshot_log, vacuum_snapshots,
        write_graph_snapshot,
    )

    base = str(tmp_path / "snaps")
    a1 = spark.createDataFrame([(1, "x")], "id long, v string")
    b1 = spark.createDataFrame([(10, "m")], "id long, v string")
    write_graph_snapshot(base, {"a": a1, "b": b1})      # snap 1
    a2 = spark.createDataFrame([(2, "y")], "id long, v string")
    write_graph_snapshot(base, {"a": a2})               # snap 2: b absent
    a3 = spark.createDataFrame([(3, "z")], "id long, v string")
    write_graph_snapshot(base, {"a": a3})               # snap 3

    out = vacuum_snapshots(base, keep_last=2)
    assert out["expired"] == [1] and out["kept"] == 2
    # b/v=1 is still live via fallback for snapshots 2 and 3
    assert not any("b/v=1" in p for p in out["deleted_paths"])
    assert any("a/v=1" in p for p in out["deleted_paths"])
    tabs = read_graph_snapshot(spark, base)
    assert {r.id for r in tabs["b"].collect()} == {10}
    assert {r.id for r in tabs["a"].collect()} == {3}
    # log rewritten; vacuum again is a no-op
    assert [e["snapshot_id"] for e in read_snapshot_log(base)] == [2, 3]
    assert vacuum_snapshots(base, keep_last=2)["expired"] == []


def test_compact_batched_state_preserves_fused_read(spark, tmp_path):
    """Compacting the stream_fuse state to one row per statement leaves
    read_fused byte-identical, and compaction is idempotent."""
    from knowledgegraphbuilder_spark.sources.sinks import (
        compact_batched_state, merge_upsert,
    )
    from knowledgegraphbuilder_spark.streaming.ingest import read_fused

    st = str(tmp_path / "st")
    rows1 = [("b1", "s", "p", "o", 1, 0), ("b1", "s2", "p", "o", 0, 1)]
    rows2 = [("b2", "s", "p", "o", 2, 1)]
    schema = ("bkey string, subj string, pred string, obj string, "
              "k_a long, k_b long")
    merge_upsert(spark, st, spark.createDataFrame(rows1, schema), "bkey")
    merge_upsert(spark, st, spark.createDataFrame(rows2, schema), "bkey")
    before = {tuple(r) for r in read_fused(spark, st).collect()}

    compact_batched_state(spark, st, ["subj", "pred", "obj"],
                          ["k_a", "k_b"])
    rows = spark.read.parquet(st).collect()
    assert len(rows) == 2 and all(r.bkey == "compacted" for r in rows)
    assert {tuple(r) for r in read_fused(spark, st).collect()} == before

    compact_batched_state(spark, st, ["subj", "pred", "obj"],
                          ["k_a", "k_b"])
    assert {tuple(r) for r in read_fused(spark, st).collect()} == before
