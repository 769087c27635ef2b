"""Seeded input generator for every benchmark workload.

Everything the program sees is made here from the ``--seed`` argument, in
this one process: the same seed always gives byte-identical inputs. Inputs
are plain Python/numpy values; ``write_docs`` lands them as parquet files.

- ``zipf_corpus``: long documents in which ``ENTITY_SHARE`` of the tokens
  are entity surface forms drawn Zipf(``ZIPF_S``) from ``N_FORMS`` forms;
  the returned gazetteer covers every form.
- ``questions``: templated QA questions over the realised entity forms.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass

import numpy as np

LABELS = ("person", "organization", "location", "technology", "event")
N_FILLER = 2000
N_FORMS = 100_000
ZIPF_S = 1.1
ENTITY_SHARE = 0.12


@dataclass
class Corpus:
    doc_ids: list[int]
    texts: list[str]
    gazetteer: tuple[tuple[str, str], ...]

    def __len__(self) -> int:
        return len(self.doc_ids)


def form(i: int) -> str:
    return f"ent{i:05d}"


def zipf_gazetteer() -> tuple[tuple[str, str], ...]:
    return tuple((form(i), LABELS[i % len(LABELS)]) for i in range(N_FORMS))


def zipf_corpus(seed: int, n_docs: int, mean_words: int, *, stream: int = 2,
                first_id: int = 0) -> Corpus:
    """Doc lengths are uniform in [0.75, 1.25] x ``mean_words``. ``stream``
    separates independent draws under one seed (e.g. seed corpus vs
    appended micro-batches)."""
    rng = np.random.default_rng([seed, stream])
    ranks = np.arange(1, N_FORMS + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    # rank -> form id is a seeded permutation, so the head is not always the
    # same few strings
    perm = rng.permutation(N_FORMS)
    lens = rng.integers(int(mean_words * 0.75), int(mean_words * 1.25) + 1, size=n_docs)
    total = int(lens.sum())
    is_ent = rng.random(total) < ENTITY_SHARE
    ents = perm[rng.choice(N_FORMS, size=total, p=p)]
    fillers = rng.integers(0, N_FILLER, size=total)
    toks = [form(e) if m else f"w{f}" for m, e, f in zip(is_ent, ents, fillers)]
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(toks[pos:pos + n]))
        pos += n
    return Corpus(list(range(first_id, first_id + n_docs)), texts, zipf_gazetteer())


def questions(seed: int, corpus: Corpus, n: int) -> list[str]:
    """Templated questions naming two entity forms realised in the corpus
    (frequent forms more often, as users ask about what the corpus holds)."""
    rng = np.random.default_rng([seed, 3])
    counts = Counter(w for t in corpus.texts for w in t.split(" ") if w.startswith("ent"))
    forms = sorted(counts)
    weights = np.array([counts[f] for f in forms], dtype=np.float64)
    weights /= weights.sum()
    picks = rng.choice(len(forms), size=(n, 2), p=weights)
    templates = (
        "how is {a} related to {b}",
        "which documents mention {a} together with {b}",
        "what connects {a} and {b}",
    )
    return [templates[i % len(templates)].format(a=forms[a], b=forms[b])
            for i, (a, b) in enumerate(picks)]


def write_docs(corpus: Corpus, path: str, n_files: int) -> None:
    """Land the corpus as ``n_files`` parquet files of (doc_id long, text)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    for f in range(n_files):
        ids, texts = corpus.doc_ids[f::n_files], corpus.texts[f::n_files]
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": pa.array(texts, pa.string())}),
                       os.path.join(path, f"part-{f:04d}.parquet"))


def land_spans(corpus: Corpus, landing: str, inbox: str) -> None:
    """Write the corpus as one spans file (one text span per doc), then move
    it into the watched ``inbox`` in one rename."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    spans_type = pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                     ("media_ref", pa.string()), ("offset", pa.int32())]))
    name = f"batch-{corpus.doc_ids[0]}.parquet"
    pq.write_table(pa.table({
        "doc_id": [f"doc_{i}" for i in corpus.doc_ids],
        "spans": pa.array([[{"kind": "text", "text": t, "media_ref": None, "offset": 0}]
                           for t in corpus.texts], spans_type),
    }), os.path.join(landing, name))
    os.rename(os.path.join(landing, name), os.path.join(inbox, name))


def properties(corpus: Corpus, re_chunk_size: int = 300) -> dict:
    """The input properties the layers' work depends on."""
    lens = [t.count(" ") + 1 for t in corpus.texts]
    gaz = dict(corpus.gazetteer)
    forms = Counter(w for t in corpus.texts for w in t.split(" ") if w in gaz)
    total = sum(forms.values())
    return {
        "docs": len(corpus),
        "words_per_doc_mean": sum(lens) / len(lens),
        "multi_re_chunk_doc_share": sum(n > re_chunk_size for n in lens) / len(lens),
        "gazetteer_forms": len(gaz),
        "distinct_forms_realised": len(forms),
        "mentions": total,
        "top_form_mention_share": max(forms.values()) / total if total else 0.0,
    }
