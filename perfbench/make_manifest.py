"""Write BENCHMARK.json at the checkout root from the metric lists in
``perfbench.trace`` and the end-to-end table below.

    python3 perfbench/make_manifest.py
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import trace  # noqa: E402

WORKLOADS = [
    {"name": "zipf-long",
     "why": "long Zipf docs, 1e5-form gazetteer, checkpointed build + write_graph: "
            "exercises chunk overlap, canonicalize, graph_build, checkpoint, sinks; "
            "bypasses QA and streaming"},
    {"name": "qa-ingest",
     "why": "micro-batches merged into a ~50x larger relation table beside graph QA: "
            "exercises streaming, merge_upsert, ann, pagerank, retrieval; bypasses "
            "canonicalize, graph_build, checkpoint"},
]

# (name, unit, better, bound)
# bounds: about 3x the quartile spread over 10 seeds on a shared 4-core VM,
# capped at 0.25. The resident set spread 0.01-0.03. The timings and
# set-up spread 0.06-0.36 with the host's CPU steal (1-19% of CPU time),
# so they get the cap, which some 10-seed sets exceed (see README.md).
END_TO_END = [
    ("op_p50_s", "s", "lower", 0.25),
    ("items_per_s", "1/s", "higher", 0.25),
    ("cpu_s_per_1k_items", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.1),
    ("setup_s", "s", "lower", 0.25),
]

HIGHER = ("dedup_keep_ratio", "parse_keep_ratio")


def manifest() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 10,
        "workloads": WORKLOADS,
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": x}
                       for n, u, b, x in END_TO_END],
        "per_layer": [{"name": n, "unit": trace.unit_of(n),
                       "better": "higher" if n.endswith(HIGHER) else "lower"}
                      for n in trace.per_layer_names()],
    }


if __name__ == "__main__":
    with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
        json.dump(manifest(), f, indent=2)
        f.write("\n")
