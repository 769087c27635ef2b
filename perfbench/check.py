"""Expected outputs from the serial parity oracle (tests/oracle_serial.py)
and order-free digests to compare them with the program's tables.

A digest is (rows, distinct keys, sum of key bits 0-31, sum of key bits
32-63) over a SHA-256 hex key column; it is additive over disjoint row sets,
so a seed table plus appended batches can be checked without a collect."""

from __future__ import annotations

import hashlib
import os
import sys

from perfbench.gen import Corpus

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tests"))
import oracle_serial  # noqa: E402


def oracle(corpus: Corpus) -> dict:
    cfg = oracle_serial.OracleConfig(gazetteer=dict(corpus.gazetteer))
    return oracle_serial.run_oracle(
        [(f"doc_{i}", t) for i, t in zip(corpus.doc_ids, corpus.texts)], cfg)


def node_id(text: str) -> str:
    return oracle_serial.node_id(text)


def _key_parts(hexkey: str) -> tuple[int, int]:
    return int(hexkey[:8], 16), int(hexkey[8:16], 16)


def digest_keys(keys) -> tuple[int, int, int, int]:
    keys = list(keys)
    a = b = 0
    for k in keys:
        x, y = _key_parts(k)
        a += x
        b += y
    return len(keys), len(set(keys)), a, b


def add(d1, d2):
    return tuple(x + y for x, y in zip(d1, d2))


def membership_key(node: str, mention: str) -> str:
    return hashlib.sha256(f"{node}|{mention}".encode()).hexdigest()


def expected_graph(o: dict) -> dict:
    return {
        "relations": digest_keys(r["relation_id"] for r in o["relations"]),
        "membership": digest_keys(membership_key(node_id(m["text"]), m["mention_id"])
                                  for m in o["mentions"]),
        "nodes": len(o["nodes"]),
    }


def spark_digest(df, col: str) -> tuple[int, int, int, int]:
    from pyspark.sql import functions as F

    def part(lo):
        return F.sum(F.conv(F.substring(col, lo, 8), 16, 10).cast("long"))

    r = df.agg(F.count("*"), F.countDistinct(col), part(1), part(9)).first()
    return tuple(int(x or 0) for x in r)


def spark_membership_digest(df) -> tuple[int, int, int, int]:
    from pyspark.sql import functions as F

    return spark_digest(
        df.select(F.sha2(F.concat_ws("|", "node_id", "mention_id"), 256).alias("k")), "k")
