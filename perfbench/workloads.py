"""The three benchmark workloads. Each is a closed loop with one client.

Every workload has the same shape:

* ``setup()`` generates its inputs from the seed and writes them to parquet;
* ``warm()`` runs one untimed pass, so the timed passes see a warm JVM,
  warm Python workers and warm encoder caches;
* ``run(seconds)`` repeats the workload's operation until ``seconds`` have
  passed and returns the timings the end-to-end metrics come from;
* ``check()`` compares the program's outputs with a reference;
* ``traced(m)`` runs one traced pass and adds per-layer metrics to ``m``.

Layers are timed from outside the package, around calls to its public
functions. Sizes are fixed here; the program receives only generated
inputs and no tuning setting.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
from pyspark.sql import Window, functions as F

from nlp_series_relation_extraction_spark.core.decode_bio import decode_bio_sentence
from nlp_series_relation_extraction_spark.core.decode_span import (
    decode_pair_cube,
    decode_po_for_subject,
    decode_span_sentence,
    decode_subject_spans,
    decode_typed_spans,
)
from nlp_series_relation_extraction_spark.core.heads import (
    DEFAULT_MAX_LEN,
    extract_row,
    get_hash_encoder,
)
from nlp_series_relation_extraction_spark.core.tokenization import (
    normalize_text,
    tokenize_for_bio,
    tokenize_framed,
    truncate_framed,
)
from nlp_series_relation_extraction_spark.evaluation.metrics import triple_prf
from nlp_series_relation_extraction_spark.operators.extract import (
    extract_triples,
    extract_turn_results,
    mentions_from_triples,
)
from nlp_series_relation_extraction_spark.operators.graph import (
    canonical_triples,
    edge_table,
)
from nlp_series_relation_extraction_spark.operators.linking import (
    link_mentions,
    norm_expr,
)
from nlp_series_relation_extraction_spark.plans.pipeline import (
    StageStore,
    run_kg_pipeline,
)
from nlp_series_relation_extraction_spark.sources.synthetic import (
    gold_triples,
    synth_transcripts,
)
from nlp_series_relation_extraction_spark.streaming.kg_sink import (
    read_current_edges,
    upsert_edge_batch,
)

from metrics import HEADS, SPARK_LAYERS
from sparkstats import job_stats

# the planted decode misses a gold triple whose object text also occurs
# inside its subject (core/labeling.py:search takes the first occurrence,
# as the reference does); about one turn in 10k is affected, so planted
# recall is gated at the north rule's 0.95, not at 1.0
MIN_PLANTED_PR = 0.95


class Ctx:
    """Run-wide state: the session, the tracer (traced runs only), the
    scratch directory and the operation/failure tally behind
    ``attempted``/``failed``."""

    def __init__(self, spark, tracer, work: str, seed: int, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.cores = cores
        self.attempted = 0
        self.failed = 0
        self.gen_s = 0.0

    def op(self, fn, *args):
        """Run one operation; returns (ok, seconds, value). An exception
        is reported and counted as a failed operation."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            value = fn(*args)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return False, time.perf_counter() - t, None
        return True, time.perf_counter() - t, value

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """An output check is an operation too; a mismatch fails it."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {name}: {detail}", file=sys.stderr)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def transcripts(self, n_turns: int, name: str):
        """Generate ``n_turns`` transcripts from the seed, write them to
        parquet and read them back: the workload's input table."""
        out = self.path("in", name)
        t = time.perf_counter()
        synth_transcripts(self.spark, n_turns, seed=self.seed).write.parquet(out)
        self.gen_s += time.perf_counter() - t
        return self.spark.read.parquet(out)


def _plain(v):
    """Spark row values -> hashable, order-independent Python values."""
    if isinstance(v, dict):
        return tuple(sorted((k, _plain(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_plain(x) for x in v)
    if hasattr(v, "asDict"):
        return _plain(tuple(v))
    return v


def table_rows(df) -> list[tuple]:
    """All rows, columns in name order, sorted: an order-free table value."""
    cols = sorted(df.columns)
    return sorted(_plain(tuple(r)) for r in df.select(*cols).collect())


def digest(df) -> str:
    return hashlib.sha256(repr(table_rows(df)).encode()).hexdigest()


def _spo(s) -> tuple:
    return (
        s["predicate"], s["subject"], s["subject_type"],
        _plain(dict(s["object"])), _plain(dict(s["object_type"])),
    )


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


# --------------------------------------------------------------------------
# kg_extract


def core_row_phases(head: str, text: str, enc, max_len: int = DEFAULT_MAX_LEN):
    """One non-planted row through ``head``, calling the core functions in
    ``core.heads.extract_*_row``'s order. Returns the row result and the
    nanoseconds spent in tokenize, encode and decode."""
    clock = time.perf_counter_ns
    t0 = clock()
    text = normalize_text(text)
    if head == "bio":
        tokens, offsets = tokenize_for_bio(text)
        tokens = truncate_framed(tokens, max_len)
        offsets = offsets[: len(tokens)]
        t1 = clock()
        probs = enc.bio_probs(tokens)
        t2 = clock()
        res = decode_bio_sentence(text, probs, offsets)
        return res, t1 - t0, t2 - t1, clock() - t2
    tokens, tok_start, tok_end = tokenize_framed(text)
    tokens = truncate_framed(tokens, max_len)
    t1 = clock()
    if head == "mpn":
        sub_probs = enc.subject_probs(tokens)
        t2 = clock()
        subjects = decode_subject_spans(sub_probs, len(tokens))
        t3 = clock()
        po = (
            enc.po_probs(tokens, subjects)
            if subjects
            else np.zeros((0, len(tokens), 1, 2), dtype=np.float32)
        )
        t4 = clock()
        spoes: dict = {}
        for k, s in enumerate(subjects):
            spoes.setdefault(s, []).extend(decode_po_for_subject(po[k], len(tokens)))
        spans = subjects
    else:
        start, end = enc.typed_span_probs(tokens)
        t2 = clock()
        spans, end_list, _ = decode_typed_spans(start, end, n_tokens=len(tokens))
        t3 = clock()
        sub = enc.pair_cube_at(tokens, sorted(set(end_list)), biaffine=head == "biaffine")
        t4 = clock()
        spoes = decode_pair_cube(sub, end_list, spans, is_subcube=True)
    res = decode_span_sentence(text, spoes, tok_start, tok_end, spans)
    t5 = clock()
    return res, t1 - t0, (t2 - t1) + (t4 - t3), (t3 - t2) + (t5 - t4)


class KgExtract:
    """Hash-encoder (non-planted) ``extract_triples`` for each head over
    transcripts read from parquet, materialized through the noop sink.
    One operation is one head's pass over the input."""

    name = "kg_extract"
    N_TURNS = 4000
    CHECK_TURNS = 48  # fixed sample compared with in-process extract_row
    CORE_TURNS = 100  # rows timed single-threaded in the traced run

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def setup(self):
        self.tr = self.ctx.transcripts(self.N_TURNS, self.name)

    def _pass(self, head: str):
        extract_triples(self.tr, head=head).write.format("noop").mode(
            "overwrite"
        ).save()

    def warm(self):
        for head in HEADS:
            self._pass(head)

    def run(self, seconds: float) -> dict:
        walls = {h: [] for h in HEADS}
        rounds = []
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            round_s, whole = 0.0, True
            for head in HEADS:
                ok, dt, _ = self.ctx.op(self._pass, head)
                if ok:
                    walls[head].append(dt)
                    round_s += dt
                whole = whole and ok
            if whole:
                rounds.append(round_s)
        passes = sum(len(w) for w in walls.values())
        busy = sum(sum(w) for w in walls.values())
        detail = {
            f"turns_per_s_{h}": self.N_TURNS * len(w) / sum(w)
            for h, w in walls.items() if w
        }
        return {
            "turns_per_s": self.N_TURNS * passes / busy if busy else 0.0,
            "op_p50_s": _median(rounds),
            "detail": {**detail, "rounds": len(rounds)},
        }

    def check(self):
        sample = (
            self.tr.orderBy("conv_id", "turn_idx")
            .limit(self.CHECK_TURNS)
            .select("conv_id", "turn_idx", "text")
            .collect()
        )
        keys = self.ctx.spark.createDataFrame(
            [(r["conv_id"], r["turn_idx"]) for r in sample], "conv_id string, turn_idx int"
        )
        sample_df = self.tr.join(F.broadcast(keys), ["conv_id", "turn_idx"])
        for head in HEADS:
            got = {
                (r["conv_id"], r["turn_idx"]): (
                    list(r["entities"]), [_spo(s) for s in r["triples"]]
                )
                for r in extract_turn_results(sample_df, head=head).collect()
            }
            bad = []
            for r in sample:
                exp = extract_row(head, r["text"])
                want = (exp["entity_list"], [_spo(s) for s in exp["spo_list"]])
                if got.get((r["conv_id"], r["turn_idx"])) != want:
                    bad.append((r["conv_id"], r["turn_idx"]))
            self.ctx.check(f"{self.name}.{head} == extract_row", not bad, f"{bad[:3]}")

    def traced(self, m: dict):
        tr, ctx = self.ctx.tracer, self.ctx
        rows = (
            self.tr.orderBy("conv_id", "turn_idx").limit(self.CORE_TURNS)
            .select("text").collect()
        )
        texts = [r["text"] for r in rows if r["text"] is not None]
        enc = get_hash_encoder()
        for head in HEADS:
            with tr.span(f"core.{head}", rows=len(texts)):
                want = [extract_row(head, text) for text in texts]  # warms caches
                tok = encode = dec = 0
                mismatch = 0
                for text, exp in zip(texts, want):
                    res, a, b, c = core_row_phases(head, text, enc)
                    tok, encode, dec = tok + a, encode + b, dec + c
                    mismatch += res != exp
                t = time.perf_counter()
                for text in texts:
                    extract_row(head, text)
                row_s = time.perf_counter() - t
            if mismatch:
                # the phase split mirrors core.heads; a mismatch means it is
                # stale, not that the program is wrong
                print(f"warning: core phase split differs from extract_row "
                      f"on {mismatch} {head} rows", file=sys.stderr)
            n = len(texts)
            m[f"core.tokenize_us.{head}"] = tok / n / 1e3
            m[f"core.encode_us.{head}"] = encode / n / 1e3
            m[f"core.decode_us.{head}"] = dec / n / 1e3
            m[f"core.row_us.{head}"] = row_s / n * 1e6
        groups = [f"extract.{h}" for h in HEADS]
        walls = {}
        for head in HEADS:
            with tr.span(f"extract.{head}", group=f"extract.{head}") as sp:
                self._pass(head)
            walls[head] = sp["end"] - sp["start"]
        stats = job_stats(ctx.sc, groups)
        for head in HEADS:
            wall = walls[head]
            busy = m[f"core.row_us.{head}"] * 1e-6 * self.N_TURNS / ctx.cores
            m[f"extract.wall_s.{head}"] = wall
            m[f"extract.turns_per_s.{head}"] = self.N_TURNS / wall
            m[f"extract.tasks.{head}"] = stats[f"extract.{head}"]["tasks"]
            m[f"extract.spark_share.{head}"] = 1.0 - busy / wall
        spark_layer(m, "extract", [stats[g] for g in groups], sum(walls.values()), ctx.cores)


def spark_layer(m: dict, layer: str, stats: list[dict], wall: float, cores: int):
    """spark.* metrics of one layer from its job groups' stats and the
    wall time of the spans that ran them."""
    run_s = sum(s["executor_run_s"] for s in stats)
    m[f"spark.jobs.{layer}"] = sum(s["jobs"] for s in stats)
    m[f"spark.tasks.{layer}"] = sum(s["tasks"] for s in stats)
    m[f"spark.executor_run_s.{layer}"] = run_s
    m[f"spark.shuffle_write_bytes.{layer}"] = sum(s["shuffle_write_bytes"] for s in stats)
    m[f"spark.driver_gap_s.{layer}"] = wall - run_s / cores


# --------------------------------------------------------------------------
# kg_batch


class KgBatch:
    """``run_kg_pipeline(head="mpn", planted=True, gold=...)`` over
    transcripts read from parquet, into a fresh workdir each time. One
    operation is one pipeline run."""

    name = "kg_batch"
    N_TURNS = 6000

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.runs = 0
        self.digests: list[str] = []
        self.prf: list[tuple[float, float]] = []

    def setup(self):
        self.tr = self.ctx.transcripts(self.N_TURNS, self.name)
        self.gold = gold_triples(self.ctx.spark, self.tr)

    def _workdir(self) -> str:
        self.runs += 1
        return self.ctx.path("pipeline", f"run{self.runs}")

    def _record(self, out: dict, wd: str):
        """Untimed: keep the edges digest and P/R of a finished run, then
        drop its workdir."""
        ev = out["eval"].collect()[0]
        self.prf.append((ev["precision"], ev["recall"]))
        self.digests.append(digest(out["edges"]))
        shutil.rmtree(wd, ignore_errors=True)

    def _pipeline(self, wd: str):
        return run_kg_pipeline(
            self.ctx.spark, self.tr, wd, head="mpn", planted=True, gold=self.gold
        )

    def warm(self):
        wd = self._workdir()
        self._record(self._pipeline(wd), wd)

    def run(self, seconds: float) -> dict:
        walls = []
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            wd = self._workdir()
            ok, dt, out = self.ctx.op(self._pipeline, wd)
            if ok:
                walls.append(dt)
                self._record(out, wd)
        p, r = self.prf[-1]
        return {
            "turns_per_s": self.N_TURNS * len(walls) / sum(walls) if walls else 0.0,
            "op_p50_s": _median(walls),
            "detail": {"pipeline_s": _median(walls), "triple_precision": p,
                       "triple_recall": r, "runs": len(walls)},
        }

    def check(self):
        self.ctx.check(
            f"{self.name} edges digest stable across runs of one seed",
            len(set(self.digests)) == 1, f"{len(set(self.digests))} digests",
        )
        worst = min(min(pr) for pr in self.prf)
        self.ctx.check(
            f"{self.name} planted precision/recall >= {MIN_PLANTED_PR}",
            worst >= MIN_PLANTED_PR, f"{self.prf}",
        )

    def traced(self, m: dict):
        """The pipeline's public stage functions in ``run_kg_pipeline``'s
        order, each in its own span, between two untraced runs; the
        tracing overhead is the traced wall minus their mean."""
        before = self._untraced_run()
        self._traced_pass(m)
        untraced_s, stage = zip(before, self._untraced_run())
        traced_s = m["trace.pipeline_s"]
        for name in stage[0]:
            m[f"pipeline.stage_s.{name}"] = statistics.mean(s[name]["wall_sec"] for s in stage)
        for name in ("triples", "edges"):
            r = stage[0][name]
            m[f"pipeline.partition_skew.{name}"] = (
                r["partition_max_rows"] * r["n_partitions"] / r["rows"]
            )
        wall = statistics.mean(untraced_s)
        m["pipeline.wall_s"] = wall
        m["pipeline.unstaged_s"] = wall - sum(
            m[f"pipeline.stage_s.{name}"] for name in stage[0]
        )
        m["trace.overhead_s"] = traced_s - wall
        print(
            f"kg_batch trace: span self times sum to {m['trace.self_sum_s']:.3f}s "
            f"(traced wall {traced_s:.3f}s); untraced pipeline_s {list(untraced_s)}",
            file=sys.stderr,
        )

    def _untraced_run(self) -> tuple[float, dict]:
        """One run_kg_pipeline: its wall and StageStore's per-stage rows."""
        wd = self._workdir()
        t = time.perf_counter()
        out = self._pipeline(wd)
        wall = time.perf_counter() - t
        with open(os.path.join(wd, "metrics.jsonl"), encoding="utf-8") as f:
            stage = {r["stage"]: r for r in map(json.loads, f)}
        self._record(out, wd)
        return wall, stage

    def _traced_pass(self, m: dict):
        ctx, tr, spark = self.ctx, self.ctx.tracer, self.ctx.spark
        wd = self._workdir()
        store = StageStore(spark, wd)
        fp = {"head": "mpn", "planted": True}
        link_fp = {**fp, "link_threshold": 0.5}
        with tr.span("pipeline") as root:
            with tr.span("pipeline.triples", group="pipeline.triples"):
                triples = store.run_stage(
                    "triples",
                    lambda: extract_triples(self.tr, head="mpn", planted=True),
                    inputs=["transcripts"], params=fp,
                )
            with tr.span("pipeline.mentions", group="pipeline.mentions"):
                mentions = store.run_stage(
                    "mentions", lambda: mentions_from_triples(triples),
                    inputs=["triples"], params=fp,
                )
            with tr.span("linking", group="linking"):
                linked = link_mentions(mentions, threshold=0.5)
            with tr.span("pipeline.entities", group="pipeline.entities"):
                entities = store.run_stage(
                    "entities", lambda: linked["entities"],
                    inputs=["mentions"], params=link_fp,
                )
            with tr.span("pipeline.aliases", group="pipeline.aliases"):
                aliases = store.run_stage(
                    "aliases", lambda: linked["aliases"],
                    inputs=["mentions"], params=link_fp,
                )
            with tr.span("graph.canonical", group="graph.canonical"):
                canon = store.run_stage(
                    "triples_canonical", lambda: canonical_triples(triples, aliases),
                    inputs=["triples", "aliases"], params=link_fp,
                )
            with tr.span("graph.edge_table", group="graph.edge_table"):
                edges = store.run_stage(
                    "edges", lambda: edge_table(canon),
                    inputs=["triples_canonical"], params=link_fp,
                    partition_by=["predicate"],
                )
            with tr.span("eval", group="eval"):
                ev = store.run_stage(
                    "eval", lambda: triple_prf(triples, self.gold),
                    inputs=["triples", "gold"], params=fp,
                )
            store.flush_metadata()
        traced_s = root["end"] - root["start"]
        stats = job_stats(ctx.sc, [g for g in SPARK_LAYERS if g not in ("extract", "sink")])
        for layer, st in stats.items():
            spark_layer(m, layer, [st], tr.durations(layer)[-1], ctx.cores)
        selfs = tr.self_times()
        m["linking.s"] = selfs["linking"]
        m["linking.distinct_mentions"] = linked["distinct_mentions"].count()
        m["linking.candidate_pairs"] = linked["edges"].count()
        m["linking.entities"] = entities.count()
        m["graph.canonical_s"] = selfs["graph.canonical"]
        m["graph.edge_table_s"] = selfs["graph.edge_table"]
        m["graph.edges"] = edges.count()
        m["eval.prf_s"] = selfs["eval"]
        row = ev.collect()[0]
        m["eval.precision"], m["eval.recall"] = row["precision"], row["recall"]
        self.prf.append((row["precision"], row["recall"]))
        self.digests.append(digest(edges))
        shutil.rmtree(wd, ignore_errors=True)
        m["trace.pipeline_s"] = traced_s
        m["trace.self_sum_s"] = tr.subtree_self_sum(root["id"])


# --------------------------------------------------------------------------
# kg_sink


class KgSink:
    """Planted mpn triples extracted in set-up, then sequential
    ``upsert_edge_batch`` micro-batches in arrival (``ts``) order into one
    growing bucketed table, the way ``foreachBatch`` runs them. One
    operation is one micro-batch."""

    name = "kg_sink"
    N_TURNS = 4000
    BATCH_TURNS = 100
    WARM_BATCHES = 2
    TRACED_BATCHES = 6

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.next_batch = 0
        self.table = ctx.path("sink", "edges")

    def setup(self):
        spark = self.ctx.spark
        tr = self.ctx.transcripts(self.N_TURNS, self.name)
        arrival = tr.select(
            "conv_id", "turn_idx",
            F.floor(
                (F.row_number().over(Window.orderBy("ts", "conv_id", "turn_idx")) - 1)
                / self.BATCH_TURNS
            ).cast("int").alias("_b"),
        )
        path = self.ctx.path("sink", "triples")
        extract_triples(tr, head="mpn", planted=True).join(
            arrival, ["conv_id", "turn_idx"]
        ).write.parquet(path)
        self.triples = spark.read.parquet(path)
        path = self.ctx.path("sink", "aliases")
        mentions_from_triples(self.triples).select(
            norm_expr(F.col("mention")).alias("mention_norm")
        ).where(F.length("mention_norm") > 0).distinct().withColumn(
            "entity_id", F.xxhash64("mention_norm")
        ).write.parquet(path)
        self.aliases = spark.read.parquet(path)
        self.batch_turns = {
            r["_b"]: r["n"] for r in arrival.groupBy("_b").agg(F.count("*").alias("n")).collect()
        }

    def _batch(self):
        b = self.next_batch
        self.next_batch += 1
        upsert_edge_batch(
            self.ctx.spark,
            self.triples.where(F.col("_b") == b).drop("_b"),
            self.aliases, self.table, b,
        )
        return self.batch_turns[b]

    def warm(self):
        for _ in range(self.WARM_BATCHES):
            self._batch()

    def run(self, seconds: float) -> dict:
        walls, turns = [], 0
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline and self.next_batch in self.batch_turns:
            ok, dt, n = self.ctx.op(self._batch)
            if ok:
                walls.append(dt)
                turns += n
        p75 = statistics.quantiles(walls, n=4)[2] if len(walls) > 1 else _median(walls)
        return {
            "turns_per_s": turns / sum(walls) if walls else 0.0,
            "op_p50_s": _median(walls),
            "detail": {"batch_p75_s": p75, "batches": len(walls)},
        }

    def check(self):
        """Stream == batch: the table after every committed micro-batch
        equals one batch edge_table over the same triples."""
        batch = edge_table(
            canonical_triples(
                self.triples.where(F.col("_b") < self.next_batch).drop("_b"),
                self.aliases,
            )
        )
        stream = read_current_edges(self.ctx.spark, self.table)
        ok = stream is not None and table_rows(stream) == table_rows(batch)
        self.ctx.check(f"{self.name} read_current_edges == batch edge_table", ok)

    def _manifest(self) -> dict:
        with open(os.path.join(self.table, "_CURRENT"), encoding="utf-8") as f:
            return json.load(f)

    def traced(self, m: dict):
        tr = self.ctx.tracer
        touched, compacted, lat, compaction_batches = [], 0, [], 0
        for _ in range(self.TRACED_BATCHES):
            if self.next_batch not in self.batch_turns:
                break
            before = self._manifest()
            with tr.span("sink.batch", group="sink", batch=self.next_batch) as sp:
                self._batch()
            after = self._manifest()
            dt = sp["end"] - sp["start"]
            keys = set(before["buckets"]) | set(after["buckets"])
            hit = {b for b in keys if _bucket_state(before, b) != _bucket_state(after, b)}
            folded = {
                b for b in hit
                if b in before["buckets"] and after["buckets"].get(b) != before["buckets"][b]
            }
            touched.append(len(hit))
            compacted += len(folded)
            lat.append(dt)
            compaction_batches += bool(folded)
        dirs, size = 0, 0
        for root, subdirs, files in os.walk(self.table):
            dirs += sum(
                1 for d in subdirs
                if d.startswith("v") and os.path.basename(root).startswith("b")
            )
            size += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        m["sink.batches"] = len(touched)
        m["sink.buckets_touched_mean"] = statistics.mean(touched)
        m["sink.compacted_buckets"] = compacted
        m["sink.compaction_batch_share"] = compaction_batches / len(touched)
        m["sink.p50_batch_s"] = _median(lat)
        m["sink.max_batch_s"] = max(lat)
        m["sink.live_version_dirs"] = dirs
        m["sink.bytes_on_disk"] = size
        stats = job_stats(self.ctx.sc, ["sink"])
        spark_layer(m, "sink", [stats["sink"]], sum(tr.durations("sink.batch")), self.ctx.cores)


def _bucket_state(manifest: dict, b: str):
    """A bucket's committed (base version, delta versions) in a manifest."""
    return manifest["buckets"].get(b), (manifest.get("deltas") or {}).get(b)


WORKLOADS = {w.name: w for w in (KgExtract, KgBatch, KgSink)}
