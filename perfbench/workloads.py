"""The benchmark's workloads.

Each workload generates its input from the seed with
``synth.gen_conversation`` and persists it before timing starts. The
harness (``run.py``) times :meth:`KgWorkload.run` and then calls
:meth:`KgWorkload.collect` to read back what the repeat produced, which
:meth:`KgWorkload.check` compares with a reference and the recorded pins.

- ``kg_flat``: every conversation has 3-12 turns, so per-document
  overhead, extraction and the Arrow emit dominate. No document reaches
  the quadratic grouping: this workload bypasses mega-document handling.
  Its traced run also writes the corpus to a warehouse and resumes it.
- ``kg_megatail``: one conversation in 20 has 400 turns (about three
  quarters of all turns). It exercises the O(n^2) ``find_similar_*``
  loop, ``split_text`` chunking, partition stragglers and the ratio
  cache working set. Its traced run also runs cross-document and
  near-duplicate resolution once.
"""

from __future__ import annotations

import os
import random
import time

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

import replay as rp
from ontocast_spark import io as kgio
from ontocast_spark.ontology import builtin_ontology_index
from ontocast_spark.operators.assemble import TURN_SEPARATOR
from ontocast_spark.pipeline import PipelineConfig, run_pipeline
from ontocast_spark.schemas import CONVERSATIONS
from ontocast_spark.synth import gen_conversation

DOMAIN = PipelineConfig().domain


def conv_id(i: int) -> str:
    return f"conv{i:08d}"


def is_mega(i: int, mega_every: int) -> bool:
    return mega_every > 0 and i % mega_every == mega_every - 1


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def generate_conversations(
    spark: SparkSession, n: int, seed: int, mega_every: int
) -> tuple[DataFrame, int]:
    """Persisted ``conversations`` table of ``n`` synthetic conversations
    and its turn count. Generation runs on the executors."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                rows.extend(gen_conversation(int(i), seed=seed, mega_every=mega_every))
            yield pd.DataFrame(rows, columns=CONVERSATIONS.fieldNames())

    cores = spark.sparkContext.defaultParallelism
    df = (spark.range(n).repartition(cores)
          .mapInPandas(gen, schema=CONVERSATIONS).persist())
    return df, df.count()


class KgWorkload:
    """``run_pipeline`` over a persisted synthetic corpus -> ``kg_triples``
    -> noop sink. One repeat is :meth:`run` (timed by the harness)
    followed by :meth:`collect` (not timed), which reads the triple count
    and the sample checksum observed on the write itself."""

    name = ""
    n_convs = 0
    mega_every = 0
    sample_regular = 48
    sample_mega = 0

    def __init__(self, seed: int, trace: bool, work_dir: str):
        self.seed = seed
        self.trace = trace
        self.work_dir = work_dir
        self.turns = 0

    def setup(self, spark):
        self.conv, self.turns = generate_conversations(
            spark, self.n_convs, self.seed, self.mega_every)
        rng = random.Random(self.seed)
        regular = [i for i in range(self.n_convs) if not is_mega(i, self.mega_every)]
        mega = [i for i in range(self.n_convs) if is_mega(i, self.mega_every)]
        # strata: (population, sampled indices); the replay's kernel time
        # is scaled up stratum by stratum
        self.strata = {
            "regular": (len(regular), sorted(rng.sample(regular, self.sample_regular))),
            "mega": (len(mega), sorted(rng.sample(mega, min(self.sample_mega, len(mega))))),
        }
        self.sample_ids = [conv_id(i) for _, ids in self.strata.values() for i in ids]
        self.replays: dict[str, rp.Replay] = {}

    def _sample_metrics(self) -> list:
        in_sample = F.col("conv_id").isin(self.sample_ids)
        chars = F.length("subj") + F.length("pred") + F.length("obj")
        return [
            F.count(F.lit(1)).alias("triples"),
            F.sum(F.when(in_sample, 1).otherwise(0)).alias("sample_rows"),
            F.sum(F.when(in_sample, chars).otherwise(0)).alias("sample_chars"),
        ]

    def run(self, spark: SparkSession, share: float = 1.0) -> Observation:
        """The timed work, over the first ``share`` of the conversations."""
        conv = self.conv
        if share < 1:
            conv = conv.filter(F.col("conv_id") < conv_id(int(self.n_convs * share)))
        obs = Observation()
        triples = run_pipeline(spark, conv)["kg_triples"]
        noop(triples.observe(obs, *self._sample_metrics()))
        return obs

    def collect(self, spark: SparkSession, obs: Observation) -> dict:
        """Outputs of one run to check."""
        return {k: int(v) for k, v in obs.get.items()}

    def finish(self, spark: SparkSession) -> tuple[dict, dict] | None:
        """Work that runs once after the timed loop of a traced run; its
        (outputs, per-layer values) are checked like a repeat's."""
        return None

    def check(self, outputs: dict, reference: dict, pin: dict | None) -> list[str]:
        """Reasons the outputs are wrong; empty when correct."""
        return [
            f"{k} = {outputs[k]}, expected {v} ({source})"
            for source, expected in (("reference", reference),
                                     (f"pin for seed {self.seed}", pin or {}))
            for k, v in expected.items() if k in outputs and outputs[k] != v
        ]

    def reference(self) -> dict:
        """Outputs every repeat must reproduce, from replaying the
        sampled conversations twice through the kernels (after the timed
        loop).
        The first pass starts from empty caches, so its ratio-cache hit
        rate is the reuse of label pairs across the sample; the second
        pass runs warm, as a worker does once its task has processed a
        few documents, and its spans are the ones reported."""
        index = builtin_ontology_index()
        for warm in (False, True):
            self.replays = {}
            rows = chars = 0
            for stratum, (_, ids) in self.strata.items():
                replay = self.replays[stratum] = rp.Replay(index, DOMAIN)
                for i in ids:
                    texts = [r[3] for r in gen_conversation(
                        i, seed=self.seed, mega_every=self.mega_every)]
                    n, c = rp.triple_checksum(replay.document(texts))
                    rows += n
                    chars += c
            if not warm:
                pairs = sum(r.totals["pairs_scored"] for r in self.replays.values())
                hits = sum(r.totals["ratio_hits"] for r in self.replays.values())
                self.cold_ratio_hit = hits / max(pairs, 1)
        return {"sample_rows": rows, "sample_chars": chars}

    def kernel_layers(self, py_total_ms: float) -> dict:
        """``kernel.*`` from the replay, with the spans scaled to the
        whole workload (per stratum) for ``kernel.share``."""
        tot = {k: 0.0 for k in rp.SPAN_KEYS + rp.COUNT_KEYS}
        scaled_ms = 0.0
        for stratum, replay in self.replays.items():
            population, ids = self.strata[stratum]
            for k in tot:
                tot[k] += replay.totals[k]
            if ids:
                scaled_ms += population / len(ids) * sum(
                    replay.totals[k] for k in rp.SPAN_KEYS)
        out = {f"kernel.{k}": tot[k] for k in rp.SPAN_KEYS}
        out.update({
            "kernel.docs": tot["docs"],
            "kernel.turns": tot["turns"],
            "kernel.chunks": tot["chunks"],
            "kernel.triples": tot["triples"],
            "kernel.pairs_scored": tot["pairs_scored"],
            "kernel.ratio_hit": self.cold_ratio_hit,
            "kernel.merges_per_pair": tot["merged"] / max(tot["pairs_scored"], 1),
            "kernel.share": scaled_ms / py_total_ms if py_total_ms else 0.0,
        })
        return out


class KgFlat(KgWorkload):
    """Its traced run also runs, once after the timed loop
    (:meth:`finish`), the batch flow's storage over part of the same
    corpus -- the warehouse write and the resume (``io.*``) -- and
    near-duplicate removal over generated documents (``dedup.*``)."""

    name = "kg_flat"
    n_convs = 20000
    mega_every = 0
    # the warehouse holds the first quarter of the corpus, so that the
    # traced run ends well within the time a run may take
    warehouse_convs = 5000

    def _sample_metrics(self):
        head = F.col("conv_id") < conv_id(self.warehouse_convs)
        return [*super()._sample_metrics(),
                F.sum(F.when(head, 1).otherwise(0)).alias("warehouse_triples")]

    def finish(self, spark):
        if not self.trace:
            return None
        head = self.conv.filter(F.col("conv_id") < conv_id(self.warehouse_convs))
        wh = os.path.join(self.work_dir, "warehouse")
        spans: dict[str, float] = {}
        write_warehouse(spark, head, wh, spans)
        outputs, layers = read_warehouse(spark, wh, spans)
        resumed, resume_layers = resume_warehouse(spark, head, wh)
        deduped, dedup = dedup_layers(spark, generate_documents(spark, DEDUP_DOCS, self.seed))
        return {**outputs, **resumed, **deduped}, {**layers, **resume_layers, **dedup}

    def reference(self):
        return {**super().reference(), "resume_rows_added": 0,
                "copies_clustered": exact_copies(DEDUP_DOCS)}


class KgMegatail(KgWorkload):
    """Its traced run also runs cross-document canonicalization once
    after the timed loop (:meth:`finish`, ``crossdoc.*``)."""

    name = "kg_megatail"
    n_convs = 4000
    mega_every = 20
    sample_regular = 32
    sample_mega = 3

    def finish(self, spark):
        if not self.trace:
            return None
        facts = crossdoc_facts(spark, self.seed, os.path.join(self.work_dir, "crossdoc_facts"))
        return crossdoc_layers(spark, facts)


def _dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, name))
                files += 1
    return size, files


def write_warehouse(spark: SparkSession, conv: DataFrame, wh: str, spans: dict) -> None:
    """``run_pipeline(warehouse=wh)``, with each ``io.write_stage`` call
    timed into ``spans`` by stage."""
    original = kgio.write_stage

    def timed_write_stage(df, warehouse, stage, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return original(df, warehouse, stage, *args, **kwargs)
        finally:
            spans[stage] = spans.get(stage, 0.0) + (time.perf_counter() - t0) * 1e3

    kgio.write_stage = timed_write_stage
    try:
        run_pipeline(spark, conv, warehouse=wh, run_id="first")
    finally:
        kgio.write_stage = original


def read_warehouse(spark: SparkSession, wh: str, spans: dict) -> tuple[dict, dict]:
    """(the stored ``kg_triples`` row count, the ``io.*`` write
    figures)."""
    triples = kgio.read_stage(spark, wh, "kg_triples").count()
    size, files = _dir_size(wh)
    return {"warehouse_triples": triples}, {
        "io.write_ms": sum(spans.values()),
        "io.bytes_written": size,
        "io.files_written": files,
        "io.bytes_per_triple": size / max(triples, 1),
        "io.stage_ms": spans,
    }


def resume_warehouse(spark: SparkSession, conv: DataFrame, wh: str) -> tuple[dict, dict]:
    """The same call again on a complete warehouse: it must add no
    ``kg_canon`` rows."""
    before = kgio.read_stage(spark, wh, "kg_canon").count()
    t0 = time.perf_counter()
    run_pipeline(spark, conv, warehouse=wh, run_id="resume")
    wall = time.perf_counter() - t0
    added = kgio.read_stage(spark, wh, "kg_canon").count() - before
    return ({"resume_rows_added": added},
            {"io.resume_ms": wall * 1e3, "io.resume_rows_added": added})


DEDUP_ARGS = {"threshold": 0.9, "num_hashes": 4, "bands": 2}
CROSSDOC_CONVS = 30  # crossdoc costs ~20 s of Spark jobs even at this size
DEDUP_DOCS = 200


def generate_documents(spark: SparkSession, n: int, seed: int) -> DataFrame:
    """Persisted ``(doc_id, text)`` table: ``n`` assembled
    conversations, plus a byte-identical copy of every tenth (id suffix
    ``x``) and a copy of every tenth other one whose last word differs
    (a near duplicate, suffix ``n``)."""

    def gen(batches):
        for pdf in batches:
            ids, texts = [], []
            for i in pdf["id"]:
                rows = gen_conversation(int(i), seed=seed, mega_every=0)
                text = TURN_SEPARATOR.join(r[3] for r in rows)
                ids.append(conv_id(i))
                texts.append(text)
                if i % 10 == 3:
                    ids.append(conv_id(i) + "x")
                    texts.append(text)
                if i % 10 == 7:
                    ids.append(conv_id(i) + "n")
                    texts.append(text.rsplit(" ", 1)[0] + " again.")
            yield pd.DataFrame({"doc_id": ids, "text": texts})

    cores = spark.sparkContext.defaultParallelism
    docs = (spark.range(n).repartition(cores)
            .mapInPandas(gen, schema="doc_id string, text string")
            .persist())
    docs.count()
    return docs


def exact_copies(n: int) -> int:
    """Byte-identical copies :func:`generate_documents` plants."""
    return sum(1 for i in range(n) if i % 10 == 3)


def crossdoc_facts(spark: SparkSession, seed: int, path: str) -> DataFrame:
    """``kg_triples`` of :data:`CROSSDOC_CONVS` default-shape
    conversations, written once so cross-document resolution reads
    stored facts."""
    conv, _ = generate_conversations(spark, CROSSDOC_CONVS, seed, mega_every=200)
    run_pipeline(spark, conv)["kg_triples"].write.parquet(path)
    conv.unpersist()
    return spark.read.parquet(path)


def crossdoc_layers(spark: SparkSession, facts: DataFrame) -> tuple[dict, dict]:
    """One ``canonicalize_crossdoc`` -> mapping -> noop sink (job group
    ``crossdoc``), then its candidate and edge counts (group
    ``crossdoc_counts``, not timed). Returns (outputs to check, layers)."""
    from ontocast_spark.operators.crossdoc import (
        candidate_pairs, canonicalize_crossdoc, entity_metadata, match_edges)

    sc = spark.sparkContext
    sc.setJobGroup("crossdoc", "crossdoc")
    obs = Observation()
    t0 = time.perf_counter()
    _, mapping = canonicalize_crossdoc(facts)
    noop(mapping.observe(obs, F.count(F.lit(1)).alias("n")))
    crossdoc_ms = (time.perf_counter() - t0) * 1e3
    mapping_rows = int(obs.get["n"])

    sc.setJobGroup("crossdoc_counts", "crossdoc_counts")
    handles: list[DataFrame] = []
    meta = entity_metadata(facts).persist()
    pairs = candidate_pairs(meta, handles=handles).persist()
    n_pairs = pairs.count()
    n_edges = match_edges(pairs).count()
    for h in [meta, pairs, *handles]:
        h.unpersist()
    return {"crossdoc_mapping_rows": mapping_rows}, {
        "crossdoc.ms": crossdoc_ms,
        "crossdoc.candidate_pairs": n_pairs,
        "crossdoc.edges": n_edges,
        "crossdoc.edges_per_pair": n_edges / max(n_pairs, 1),
        "crossdoc.mapping_rows": mapping_rows,
    }


def dedup_layers(spark: SparkSession, docs: DataFrame) -> tuple[dict, dict]:
    """One ``dedup_corpus`` -> clusters -> noop sink (job group
    ``dedup``), observing how many planted exact copies were clustered
    (each must be: it is byte-identical to its original); then the candidate and verified counts (group
    ``dedup_counts``, not timed). Returns (outputs to check, layers)."""
    from ontocast_spark.operators.dedup import (
        dedup_corpus, exact_dedup, minhash_lsh_candidates, ngram_jaccard_verify)

    sc = spark.sparkContext
    sc.setJobGroup("dedup", "dedup")
    obs = Observation()
    is_copy = F.col("doc_id").endswith("x")
    t0 = time.perf_counter()
    _, clusters = dedup_corpus(docs, **DEDUP_ARGS)
    noop(clusters.observe(obs, F.sum(F.when(is_copy, 1).otherwise(0)).alias("n")))
    dedup_ms = (time.perf_counter() - t0) * 1e3
    copies_clustered = int(obs.get["n"] or 0)

    sc.setJobGroup("dedup_counts", "dedup_counts")
    uniques = exact_dedup(docs)[0].persist()
    cands = minhash_lsh_candidates(
        uniques, num_hashes=DEDUP_ARGS["num_hashes"], bands=DEDUP_ARGS["bands"]).persist()
    n_cands = cands.count()
    n_verified = ngram_jaccard_verify(
        uniques, cands, threshold=DEDUP_ARGS["threshold"]).count()
    for h in (uniques, cands):
        h.unpersist()
    docs.unpersist()
    return {"copies_clustered": copies_clustered}, {
        "dedup.ms": dedup_ms,
        "dedup.candidates": n_cands,
        "dedup.verified": n_verified,
        "dedup.verified_per_candidate": n_verified / max(n_cands, 1),
    }


WORKLOADS = {w.name: w for w in (KgFlat, KgMegatail)}
