"""The benchmark's metric catalogue: one list that run.py reports and that
BENCHMARK.json records. Regenerate BENCHMARK.json after editing it:

    python3 perfbench/metrics.py > BENCHMARK.json
"""

from __future__ import annotations

import json

HEADS = ("bio", "mpn", "mhs", "biaffine")

# kg_sink runs in every traced run, but is not an end-to-end workload: a full
# measurement (4 + 22 runs per workload in 57 minutes) fits two (README.md)
WORKLOADS = [
    ("kg_extract", "hash-encoder extraction, four heads, noop sink: core tokenize/encode/decode and the mapInPandas boundary do the work"),
    ("kg_batch", "planted mpn run_kg_pipeline into a fresh workdir: linking, graph, StageStore writes and eval do the work, HashEncoder is bypassed"),
]

# (name, unit, better, bound): every workload reports every one of these
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("turns_per_s", "turns/s", "higher", 0.25),
    ("op_p50_s", "s", "lower", 0.25),
    ("ops_ok_share", "share", "higher", 0.01),
]

# layers whose Spark jobs run under their own job group in the traced run
SPARK_LAYERS = (
    "extract",
    "pipeline.triples",
    "pipeline.mentions",
    "linking",
    "pipeline.entities",
    "pipeline.aliases",
    "graph.canonical",
    "graph.edge_table",
    "eval",
    "sink",
)
STAGES = ("triples", "mentions", "entities", "aliases", "triples_canonical", "edges", "eval")


def _per_layer() -> list[tuple[str, str, str]]:
    out = []
    for h in HEADS:
        out += [
            (f"core.tokenize_us.{h}", "us", "lower"),
            (f"core.encode_us.{h}", "us", "lower"),
            (f"core.decode_us.{h}", "us", "lower"),
            (f"core.row_us.{h}", "us", "lower"),
        ]
    for h in HEADS:
        out += [
            (f"extract.wall_s.{h}", "s", "lower"),
            (f"extract.turns_per_s.{h}", "turns/s", "higher"),
            (f"extract.tasks.{h}", "count", "lower"),
            (f"extract.spark_share.{h}", "share", "lower"),
        ]
    out.append(("pipeline.wall_s", "s", "lower"))
    out += [(f"pipeline.stage_s.{s}", "s", "lower") for s in STAGES]
    out += [
        ("pipeline.unstaged_s", "s", "lower"),
        ("pipeline.partition_skew.triples", "ratio", "lower"),
        ("pipeline.partition_skew.edges", "ratio", "lower"),
        ("linking.s", "s", "lower"),
        ("linking.distinct_mentions", "count", "lower"),
        ("linking.candidate_pairs", "count", "lower"),
        ("linking.entities", "count", "lower"),
        ("graph.canonical_s", "s", "lower"),
        ("graph.edge_table_s", "s", "lower"),
        ("graph.edges", "count", "lower"),
        ("eval.prf_s", "s", "lower"),
        ("eval.precision", "share", "higher"),
        ("eval.recall", "share", "higher"),
        ("sink.batches", "count", "higher"),
        ("sink.buckets_touched_mean", "count", "lower"),
        ("sink.compacted_buckets", "count", "lower"),
        ("sink.compaction_batch_share", "share", "lower"),
        ("sink.p50_batch_s", "s", "lower"),
        ("sink.max_batch_s", "s", "lower"),
        ("sink.live_version_dirs", "count", "lower"),
        ("sink.bytes_on_disk", "bytes", "lower"),
    ]
    for layer in SPARK_LAYERS:
        out += [
            (f"spark.jobs.{layer}", "count", "lower"),
            (f"spark.tasks.{layer}", "count", "lower"),
            (f"spark.executor_run_s.{layer}", "s", "lower"),
            (f"spark.shuffle_write_bytes.{layer}", "bytes", "lower"),
            (f"spark.driver_gap_s.{layer}", "s", "lower"),
        ]
    out += [
        ("session.start_s", "s", "lower"),
        ("session.warm_s", "s", "lower"),
        ("sources.gen_s", "s", "lower"),
        ("process.peak_rss_mb.jvm", "MiB", "lower"),
        ("process.peak_rss_mb.python", "MiB", "lower"),
        ("trace.pipeline_s", "s", "lower"),
        ("trace.self_sum_s", "s", "lower"),
        ("trace.overhead_s", "s", "lower"),
        ("trace.spans", "count", "lower"),
    ]
    return out


PER_LAYER = _per_layer()
UNITS = {n: u for n, u, *_ in END_TO_END + PER_LAYER}


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 10,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bd}
            for n, u, b, bd in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
