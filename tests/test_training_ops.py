"""Training-data pipeline operators: dedup, similarity, text analysis,
multimodal plumbing, critique scorers."""

import pytest
from pyspark.sql import functions as F

from ontocast_spark.operators.dedup import (
    dedup_corpus,
    embedding_neardup,
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_verify,
    simhash_dedup,
)
from ontocast_spark.operators.similarity import (
    brute_force_topk,
    build_ivf_index,
    ivf_topk,
    train_ivf_centroids,
)
from ontocast_spark.operators.text_analysis import quality_features

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # add a couple of known near-dup rows
    extra = spark.createDataFrame(
        [
            (90001, "the quick brown fox jumps over the lazy dog again and again", "en", "srcX", 60),
            (90002, "the quick brown fox jumps over the lazy dog again and again", "en", "srcX", 60),
            (90003, "the quick brown fox jumps over the lazy dog again and once more", "en", "srcX", 63),
        ],
        base.schema,
    )
    return base.union(extra)


def test_exact_dedup(spark, docs):
    deduped, mapping = exact_dedup(docs)
    assert deduped.count() + mapping.count() == docs.count()
    m = {r["dup_id"]: r["keeper_id"] for r in mapping.collect()}
    assert m.get(90002) == 90001


def test_minhash_lsh_and_jaccard(spark, docs):
    cands = minhash_lsh_candidates(docs, num_hashes=8, bands=4)
    pairs = {(r["a"], r["b"]) for r in cands.collect()}
    assert (90001, 90002) in pairs  # identical docs always collide
    verified = ngram_jaccard_verify(docs, cands, threshold=0.5)
    v = {(r["a"], r["b"]): r["jaccard"] for r in verified.collect()}
    assert v.get((90001, 90002)) == 1.0
    if (90001, 90003) in v:
        assert 0.5 <= v[(90001, 90003)] < 1.0


def test_minhash_lsh_bucket_cap(spark):
    """Identical texts share every band bucket: ``MAX_BUCKET`` copies
    yield each pair once across the bands, one more copy drops every
    bucket."""
    from ontocast_spark.operators.dedup import MAX_BUCKET

    def copies(n):
        return spark.createDataFrame(
            [(i, "the same words in every copy of this document") for i in range(n)],
            "doc_id long, text string",
        )

    at_cap = minhash_lsh_candidates(copies(MAX_BUCKET), num_hashes=4, bands=2)
    n_pairs = MAX_BUCKET * (MAX_BUCKET - 1) // 2
    assert at_cap.filter(F.col("a") < F.col("b")).distinct().count() == n_pairs
    assert at_cap.count() == n_pairs
    over = minhash_lsh_candidates(copies(MAX_BUCKET + 1), num_hashes=4, bands=2)
    assert over.count() == 0


def test_dedup_corpus_transitive(spark):
    """A~B and B~C near-dups (A!~C direct is irrelevant) must collapse
    into ONE cluster with keeper = min id, and the deduped corpus keeps
    exactly one member per cluster."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    rows = [
        (1, base + "one two three four five six seven eight nine ten"),
        (2, base + "one two three four five six seven eight nine TEN"),
        (3, base + "one two three four five six seven eight NINE TEN"),
        (50, "a completely different document about spark physical plans"),
        # exact duplicate of doc 1 -> joins doc 1's near cluster through
        # the exact-first stage
        (60, base + "one two three four five six seven eight nine ten"),
        # exact-dup pair with no near-dup relation to anything else
        (70, "standalone boilerplate paragraph repeated verbatim"),
        (71, "standalone boilerplate paragraph repeated verbatim"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    deduped, clusters = dedup_corpus(docs, threshold=0.8, num_hashes=8, bands=4)
    got = {r["doc_id"]: (r["keeper_id"], r["cluster_size"]) for r in clusters.collect()}
    assert got == {
        1: (1, 4), 2: (1, 4), 3: (1, 4), 60: (1, 4),
        70: (70, 2), 71: (70, 2),
    }
    kept = sorted(r["doc_id"] for r in deduped.collect())
    assert kept == [1, 50, 70]


def test_simhash_dedup(spark, docs):
    pairs = simhash_dedup(docs)
    p = {(r["a"], r["b"]): r["hamming"] for r in pairs.collect()}
    assert p.get((90001, 90002)) == 0


def test_embedding_neardup_and_ann(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    # append an exact duplicate of vec 0
    dup = emb.filter(F.col("vec_id") == 0).select(
        F.lit(99999).cast("long").alias("vec_id"), "embedding", "label"
    )
    emb2 = emb.select("vec_id", "embedding", "label").union(dup)
    nd = embedding_neardup(emb2, threshold=0.999)
    pairs = {(r["a"], r["b"]) for r in nd.collect()}
    assert (0, 99999) in pairs

    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=5)
    assert exact.count() == 15
    top1 = {
        r["query_id"]: r["vec_id"]
        for r in exact.filter(F.col("rank") == 1).collect()
    }
    assert top1 == {0: 0, 1: 1, 2: 2}  # self is nearest

    centroids, assignments = build_ivf_index(emb, ncells=8)
    assert assignments.count() == emb.count()
    approx = ivf_topk(emb, centroids, assignments, queries, k=5, nprobe=3)
    # recall@5 of IVF vs exact should be decent even with tiny cells
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.5


def test_ivf_kmeans_training(spark):
    """Lloyd refinement: (1) centroids are bit-identical across
    partitionings (decimal-exact means), (2) trained cells give recall
    >= the sampled seed at the same nprobe (both sides deterministic,
    so this is a stable comparison, not a flaky stochastic bound)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    c1 = train_ivf_centroids(emb, ncells=8, n_iter=2)
    c2 = train_ivf_centroids(emb.repartition(37), ncells=8, n_iter=2)
    r1 = sorted((r["cell_id"], tuple(r["centroid"])) for r in c1.collect())
    r2 = sorted((r["cell_id"], tuple(r["centroid"])) for r in c2.collect())
    assert r1 == r2

    queries = emb.limit(20).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    recalls = {}
    for iters in (0, 3):
        cent, asg = build_ivf_index(emb, ncells=8, train_iters=iters)
        got = {
            (r["query_id"], r["vec_id"])
            for r in ivf_topk(emb, cent, asg, queries, k=10, nprobe=2).collect()
        }
        recalls[iters] = len(got & exact) / len(exact)
    assert recalls[3] >= recalls[0]
    assert recalls[3] >= 0.5


def test_quality_and_fingerprint(spark, docs):
    q = quality_features(docs.filter((F.col("doc_id") < 40) | (F.col("doc_id") >= 90000)))
    row = q.filter(F.col("doc_id") == 90001).collect()[0]
    assert row["q_n_tokens"] == 12
    assert row["q_lang"] == "en"
    assert 0 < row["q_uniq_ratio"] <= 1.0


def test_multimodal_plumbing(spark):
    from ontocast_spark.operators.multimodal import extract_media_features

    media = spark.createDataFrame(
        [
            ("m1", "image", bytearray(b"\x89PNG fake bytes")),
            ("m2", "audio", bytearray(b"RIFF fake bytes")),
            ("m3", "image", None),
        ],
        "media_id string, kind string, payload binary",
    )
    feats = extract_media_features(media).collect()
    by_id = {r["media_id"]: r for r in feats}
    assert len(by_id) == 3
    assert len(by_id["m1"]["feature"]) == 32
    assert by_id["m3"]["n_bytes"] == 0
    # deterministic: same payload -> same feature
    feats2 = extract_media_features(media).collect()
    assert {r["media_id"]: r["feature"] for r in feats2} == {
        r["media_id"]: r["feature"] for r in feats
    }


def test_critique_scores(spark, reference_chain):
    from ontocast_spark.operators.critique import score_facts, score_ontology_addendum
    from ontocast_spark.pipeline import run_pipeline
    from ontocast_spark.schemas import CONVERSATIONS
    from ontocast_spark.synth import gen_corpus

    conv = spark.createDataFrame(gen_corpus(6, seed=3, mega_every=0), CONVERSATIONS)
    triples = reference_chain(conv)
    fs = score_facts(triples.filter(F.col("part") == "facts").drop("part"))
    rows = fs.collect()
    assert rows and all(0.0 <= r["score"] <= 100.0 for r in rows)
    onto = run_pipeline(spark, conv)["ontology_alignments"]
    # score addendum per chunk needs chunk cols; use the extraction rows
    os_ = score_ontology_addendum(triples.filter(F.col("part") == "ontology"))
    orows = os_.collect()
    assert orows and all(0.0 <= r["score"] <= 100.0 for r in orows)
    assert onto.count() > 0


def test_dataset_split_and_sample(spark):
    """Hash-bucket splits: exhaustive, disjoint, rerun-stable, and the
    deterministic sample keeps the same keys at any partitioning
    (unlike df.sample, whose seed is per-partition)."""
    from ontocast_spark.operators.dataset import (
        assign_splits,
        sample_deterministic,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = assign_splits(docs, "doc_id", salt="t")
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == docs.count()
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]

    # same doc -> same split regardless of partitioning
    a = {(r["doc_id"], r["split"]) for r in out.collect()}
    b = {(r["doc_id"], r["split"])
         for r in assign_splits(docs.repartition(17), "doc_id", salt="t").collect()}
    assert a == b

    s1 = {r["doc_id"] for r in
          sample_deterministic(docs, 0.3, "doc_id").select("doc_id").collect()}
    s2 = {r["doc_id"] for r in
          sample_deterministic(docs.repartition(11), 0.3, "doc_id")
          .select("doc_id").collect()}
    assert s1 == s2
    assert 0.15 <= len(s1) / docs.count() <= 0.45


def test_embedding_normalize_quantize(spark):
    """int8-quantize raw vectors: q in [-128, 127], the max component
    hits full scale, the dequantized vector is close to the original,
    and the op is deterministic column algebra (same result under
    repartition)."""
    from ontocast_spark.operators.similarity import quantize_embeddings

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(50)
    q = quantize_embeddings(emb)
    row = q.first()
    vals = list(row["q_embedding"])
    assert all(-128 <= v <= 127 for v in vals)
    assert max(abs(v) for v in vals) == 127  # max component hits full scale
    # dequantize: error bounded by scale/2 per component
    orig = list(row["embedding"])
    sc = row["q_scale"]
    assert all(abs(o - v * sc) <= sc / 2 + 1e-6 for o, v in zip(orig, vals))

    a = q.selectExpr(
        "vec_id",
        "aggregate(q_embedding, 0L, (acc, x) -> acc + CAST(x AS BIGINT)) AS s",
    ).collect()
    b = quantize_embeddings(emb.repartition(13)).selectExpr(
        "vec_id",
        "aggregate(q_embedding, 0L, (acc, x) -> acc + CAST(x AS BIGINT)) AS s",
    ).collect()
    assert {(r["vec_id"], r["s"]) for r in a} == {(r["vec_id"], r["s"]) for r in b}


def test_decontaminate_and_pack(spark):
    from ontocast_spark.operators.text_analysis import (
        decontaminate,
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today ok"),
            (2, "a completely different document with other words entirely here now"),
            (3, "xx the quick brown fox jumps over the lazy dog stolen"),
        ],
        "doc_id long, text string",
    )
    bench = docs.filter(F.col("doc_id") == 1)
    clean, contaminated = decontaminate(docs, bench, ngram=8)
    hits = {r["doc_id"]: r["n_hits"] for r in contaminated.collect()}
    assert 1 in hits           # the benchmark doc itself overlaps
    assert 3 in hits           # shares the 8-gram window
    assert 2 not in hits
    assert {r["doc_id"] for r in clean.collect()} == {2}

    # packing: 3 docs of 5 tokens each into 8-token bins: starts at
    # 0, 5, 10 -> seq_ids 0, 0, 1; offsets 0, 5, 2
    small = spark.createDataFrame(
        [(i, "t1 t2 t3 t4 t5") for i in (10, 11, 12)],
        "doc_id long, text string",
    )
    packed = {r["doc_id"]: (r["seq_id"], r["offset_in_seq"], r["n_tokens"])
              for r in pack_sequences(small, budget_tokens=8).collect()}
    assert packed == {10: (0, 0, 5), 11: (0, 5, 5), 12: (1, 2, 5)}


def test_pack_sequences_matches_sequential_simulation(spark):
    """The distributed cumsum layout must equal a sequential
    single-machine packer on arbitrary corpora (three seeded random
    corpora, one Spark job each)."""
    import random

    from ontocast_spark.operators.text_analysis import pack_sequences

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        rows = [
            (i, " ".join(f"w{rng.randrange(100)}"
                         for _ in range(rng.randrange(1, 40))))
            for i in range(60)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: (r["seq_id"], r["offset_in_seq"])
               for r in pack_sequences(docs, budget_tokens=64).collect()}
        start = 0
        for doc_id, text in rows:  # already in doc_id order
            n = len(text.split())
            assert got[doc_id] == (start // 64, start % 64), (seed, doc_id)
            start += n


def test_build_training_corpus(spark):
    """The composed corpus build: dedup -> decontaminate -> quality ->
    split -> pack, with an auditable dropped table (every input doc is
    either in the corpus or in dropped with a reason)."""
    from ontocast_spark.operators.corpus import (
        CorpusBuildConfig,
        build_training_corpus,
    )

    good = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    rows = [
        (1, good + "lambda mu nu xi omicron pi rho sigma tau upsilon"),
        (2, good + "lambda mu nu xi omicron pi rho sigma tau UPSILON"),  # near dup
        (3, "unique words entirely different from everything else here today"),
        (4, "spam spam spam spam spam spam"),                 # low uniq ratio
        (5, "!!! ??? ... ;;; ### $$$ %%%"),                  # punct / short
        (6, "the benchmark sentence that must never leak into training data ok"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = docs.filter(F.col("doc_id") == 6)
    out = build_training_corpus(
        docs, bench,
        CorpusBuildConfig(dedup_threshold=0.8, min_tokens=5,
                          pack_budget_tokens=16),
    )
    kept = {r["doc_id"] for r in out["corpus"].collect()}
    dropped = {r["doc_id"]: r["drop_reason"] for r in out["dropped"].collect()}
    assert kept == {1, 3}
    assert dropped[2] == "near_dup"
    assert dropped[6] == "contaminated"
    assert dropped[4] == "quality"
    assert dropped[5] == "quality"
    assert kept | set(dropped) == {1, 2, 3, 4, 5, 6}  # auditable partition

    pk = {r["doc_id"]: (r["split"], r["seq_id"], r["offset_in_seq"])
          for r in out["packing"].collect()}
    assert set(pk) == kept  # packing covers exactly the kept corpus
    # corpus rows carry split + quality features
    row = out["corpus"].filter(F.col("doc_id") == 1).collect()[0]
    assert row["split"] in {"train", "val", "test"}
    assert row["q_n_tokens"] > 0


def test_corpus_packing_is_sharded(spark):
    """The composed build's packing window must partition on
    (split, pack_shard) — never a single-partition global sort (the
    90/5/5 split alone would funnel ~90% of a 100-TB corpus through
    one window task). Verifies both the physical plan shape and the
    per-shard layout contract (each shard equals a sequential packer
    over its own docs in doc_id order)."""
    import random

    from ontocast_spark.operators.corpus import (
        CorpusBuildConfig,
        build_training_corpus,
    )

    rng = random.Random(7)
    rows = [
        (i, " ".join(f"w{i}x{rng.randrange(10000)}" for _ in range(rng.randrange(6, 30))))
        for i in range(120)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = CorpusBuildConfig(min_tokens=1, min_uniq_ratio=0.0,
                            pack_budget_tokens=64, n_pack_shards=8)
    out = build_training_corpus(docs, None, cfg)
    packing = out["packing"]

    plan = packing._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    # the exchange feeding the window is hash-partitioned, not global
    assert "Exchange SinglePartition" not in plan
    assert "pack_shard" in plan

    got = packing.collect()
    assert {r["doc_id"] for r in got} == {r["doc_id"] for r in out["corpus"].collect()}
    # layout contract per (split, pack_shard): sequential cumsum replay
    by_shard: dict = {}
    for r in got:
        by_shard.setdefault((r["split"], r["pack_shard"]), []).append(r)
    assert len(by_shard) > 1  # sharding actually spread the corpus
    for rows_in_shard in by_shard.values():
        start = 0
        for r in sorted(rows_in_shard, key=lambda r: r["doc_id"]):
            assert (r["seq_id"], r["offset_in_seq"]) == (start // 64, start % 64)
            start += r["n_tokens"]


def test_repetition_signals(spark):
    """Gopher-style repetition signals vs an independent Python
    reference on crafted docs, plus the plan contract: one shuffle-free
    Project (sorted-run aggregates, no explode/groupBy/UDF)."""
    from collections import Counter

    from ontocast_spark.operators.text_analysis import repetition_signals

    rows = [
        (1, "a b c\na b c\nunique line"),
        (2, "x y x y x y x y"),
        (3, "one two three four five one two three four five six"),
        (4, ""),
        (5, "solo"),
        (6, "Tab\tsep  and\nrepeat repeat repeat"),
    ]

    def ref(text):
        lines = [x for x in text.split("\n") if x != ""]
        lc = Counter(lines)
        dup_line_frac = 1 - len(lc) / len(lines) if lines else 0.0
        dup_line_chars = sum(c * len(x) for x, c in lc.items() if c > 1)
        toks = [x for x in __import__("re").split(r"\s+", text.lower()) if x]
        g2 = Counter(" ".join(toks[i:i + 2]) for i in range(len(toks) - 1))
        g5 = Counter(" ".join(toks[i:i + 5]) for i in range(len(toks) - 4))
        g2_mass = sum(c * len(g) for g, c in g2.items())
        g5_mass = sum(c * len(g) for g, c in g5.items())
        top2 = max((c * len(g) for g, c in g2.items()), default=0)
        dup5 = sum(c * len(g) for g, c in g5.items() if c > 1)
        return (
            round(dup_line_frac, 6),
            round(dup_line_chars / max(len(text), 1), 6),
            round(top2 / max(g2_mass, 1), 6),
            round(dup5 / max(g5_mass, 1), 6),
        )

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = repetition_signals(docs)
    got = {r["doc_id"]: (r["dup_line_frac"], r["dup_line_char_frac"],
                         r["top_2gram_char_frac"], r["dup_5gram_char_frac"])
           for r in out.collect()}
    for doc_id, text in rows:
        assert got[doc_id] == ref(text), (doc_id, got[doc_id], ref(text))
    # bounded [0, 1] even on pathologically overlapping grams
    for vals in got.values():
        assert all(0.0 <= v <= 1.0 for v in vals)
    # plan contract: no shuffle, no python
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan and "BatchEval" not in plan


def test_redact_pii(spark):
    """PII scrubbing: every pattern kind redacts to its placeholder,
    counts are per-kind against the original text, clean text is
    untouched, and the plan is a single shuffle-free projection."""
    from ontocast_spark.operators.text_analysis import redact_pii

    rows = [
        (1, "mail me at jo.doe+spam@sub.example.org or jd@x.co thanks"),
        (2, "server 192.168.1.254 and 10.0.0.1 rebooted"),
        (3, "call (555) 123-4567 or +1 555-987-6543 today"),
        (4, "ssn 123-45-6789 on file"),
        (5, "no personal data here at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert out[1]["pii_email"] == 2
    assert out[1]["text_redacted"] == "mail me at <EMAIL> or <EMAIL> thanks"
    assert out[2]["pii_ip"] == 2
    assert out[2]["text_redacted"] == "server <IP> and <IP> rebooted"
    assert out[3]["pii_phone"] == 2
    assert out[3]["text_redacted"] == "call <PHONE> or <PHONE> today"
    assert out[4]["pii_ssn"] == 1
    assert out[4]["text_redacted"] == "ssn <SSN> on file"
    assert out[5]["text_redacted"] == rows[4][1]
    assert all(out[5][f"pii_{k}"] == 0 for k in ("email", "ssn", "ip", "phone"))

    plan = redact_pii(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_sample_mixture(spark):
    """Mixture sampling: per-group fractions hold approximately, weight
    1.0 keeps everything, weight 0 drops everything, membership is
    partition-invariant, and remixing ONE group leaves the others'
    membership bit-identical (independent per-group sampling)."""
    from ontocast_spark.operators.dataset import sample_mixture

    rows = [(i, f"g{i % 3}") for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = sample_mixture(df, {"g0": 1.0, "g1": 0.5, "g2": 0.0},
                         group_col="source")
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts["g0"] == 1000
    assert "g2" not in counts
    assert 400 <= counts["g1"] <= 600

    # partition invariance
    ids1 = {r["doc_id"] for r in out.collect()}
    ids2 = {r["doc_id"]
            for r in sample_mixture(df.repartition(17),
                                    {"g0": 1.0, "g1": 0.5, "g2": 0.0},
                                    group_col="source").collect()}
    assert ids1 == ids2

    # independence: changing g2's weight never changes g1's membership
    remix = sample_mixture(df, {"g0": 1.0, "g1": 0.5, "g2": 0.9},
                           group_col="source")
    g1_before = {r["doc_id"] for r in out.filter(F.col("source") == "g1").collect()}
    g1_after = {r["doc_id"] for r in remix.filter(F.col("source") == "g1").collect()}
    assert g1_before == g1_after
    # default weight applies to unlisted groups
    dflt = sample_mixture(df, {"g0": 1.0}, group_col="source",
                          default_weight=0.0)
    assert {r["source"] for r in dflt.collect()} == {"g0"}


def test_pagerank_vs_reference(spark):
    """PageRank vs a plain-Python reference on a known graph (cycle +
    dangling node + disconnected pair), plus repartition invariance."""
    from ontocast_spark.operators.pagerank import pagerank

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"),
             ("e", "f")]  # d is dangling; e->f disconnected
    e = spark.createDataFrame(edges, "src string, dst string")

    def ref(iters, d=0.85):
        nodes = sorted({x for p in edges for x in p})
        n = len(nodes)
        out = {}
        for s, _ in edges:
            out[s] = out.get(s, 0) + 1
        r = {v: 1.0 / n for v in nodes}
        for _ in range(iters):
            nxt = {v: (1 - d) / n for v in nodes}
            for s, t in edges:
                nxt[t] += d * r[s] / out[s]
            r = nxt
        return r

    got = {row["node"]: row["rank"] for row in pagerank(e, iterations=5).collect()}
    want = ref(5)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12, (v, got[v], want[v])
    # more in-links -> more rank; dangling sink keeps its teleport+share
    assert got["a"] > got["d"] > 0
    # repartition invariance (well under the rounding the oracle uses)
    got2 = {row["node"]: row["rank"]
            for row in pagerank(e.repartition(13), iterations=5).collect()}
    for v in got:
        assert abs(got[v] - got2[v]) < 1e-12


def test_cross_split_leakage(spark):
    """Leakage scan: near-dup pairs across split boundaries are flagged
    (exact dups included), same-split dups are not, unrelated docs
    never pair."""
    from ontocast_spark.operators.dedup import cross_split_leakage

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    rows = [
        (1, base + "one two three", "train"),
        (2, base + "one two THREE", "test"),    # near-dup across splits
        (3, base + "one two three", "train"),   # exact dup, same split
        (4, "completely unrelated text about spark plans", "test"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, split string")
    out = {(r["a"], r["b"]): (r["split_a"], r["split_b"])
           for r in cross_split_leakage(docs, threshold=0.7,
                                        num_hashes=8, bands=4).collect()}
    assert (1, 2) in out and out[(1, 2)] == ("train", "test")
    assert (2, 3) in out
    assert (1, 3) not in out          # same split
    assert all(4 not in pair for pair in out)


def test_kmv_distinct_accuracy_and_merge_property(spark):
    """KMV sketch: exact below k, within ~3/sqrt(k) relative error
    above k (deterministic — no RNG, so the bound is a fixed fact of
    the md5 hash sequence), and partition-invariant."""
    from ontocast_spark.operators.sketch import kmv_distinct

    rows = [("small", f"v{i}") for i in range(20)]
    rows += [("big", f"x{i}") for i in range(5000)]
    rows += [("big", f"x{i}") for i in range(100)]  # duplicates
    df = spark.createDataFrame(rows, "g string, v string")
    out = {r["g"]: r["est_distinct"]
           for r in kmv_distinct(df, "g", "v", k=64).collect()}
    assert out["small"] == 20.0          # below k -> exact
    rel = abs(out["big"] - 5000) / 5000
    assert rel < 3 / (64 ** 0.5), (out["big"], rel)

    out2 = {r["g"]: r["est_distinct"]
            for r in kmv_distinct(df.repartition(23), "g", "v", k=64).collect()}
    assert out == out2                   # partition-invariant


def test_kmv_sample_quantiles(spark):
    """Sampled-quantile sketch: exact below k (the sample IS the
    group), close above k, deterministic at any parallelism, and the
    k-min sample merges associatively (union of partials == whole)."""
    from ontocast_spark.operators.sketch import kmv_sample_quantiles

    rows = [("small", i, float(i)) for i in range(100)]
    rows += [("big", 1000 + i, float(i % 1000)) for i in range(10_000)]
    df = spark.createDataFrame(rows, "g string, id long, v double")

    out = {r["g"]: (r["sample_n"], r["p50"], r["p95"]) for r in
           kmv_sample_quantiles(df, "g", "v", "id", k=256).collect()}
    # below k: sample == group -> exact interpolated percentiles
    assert out["small"] == (100, 49.5, 94.05)
    # above k: order-statistic estimate within ~3/sqrt(k) of truth
    n, p50, p95 = out["big"]
    assert n == 256
    assert abs(p50 - 499.5) / 1000 < 3 / (256 ** 0.5)
    assert abs(p95 - 949.0) / 1000 < 3 / (256 ** 0.5)

    out2 = {r["g"]: (r["sample_n"], r["p50"], r["p95"]) for r in
            kmv_sample_quantiles(df.repartition(17), "g", "v", "id",
                                 k=256).collect()}
    assert out == out2                   # partition-invariant

    # mergeability: sketching each half then keeping the k smallest of
    # the union selects the same sample as sketching the whole
    big = [r for r in rows if r[0] == "big"]
    half1 = spark.createDataFrame(big[:5000], "g string, id long, v double")
    half2 = spark.createDataFrame(big[5000:], "g string, id long, v double")
    from ontocast_spark.operators.sketch import kmv_hash
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    def sample_set(sdf, k=256):
        w = Window.partitionBy("g").orderBy("h", "v")
        return {
            (r["g"], r["v"], r["h"]) for r in
            sdf.select("g", "v", kmv_hash(F.col("id")).alias("h"))
            .withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= k).collect()
        }
    merged = sample_set(half1) | sample_set(half2)
    top = set(sorted(merged, key=lambda t: (t[2], t[1]))[:256])
    whole = sample_set(spark.createDataFrame(
        big, "g string, id long, v double"))
    assert top == whole

    # plan shape: ONE exchange, and the rank-limit pushdown puts a
    # Partial WindowGroupLimit BELOW it — each map task pre-trims to k
    # rows per group before any data moves (the plan-level form of the
    # sketch's mergeability; shuffle volume bounded at k rows/group/task)
    plan = (kmv_sample_quantiles(df, "g", "v", "id", k=256)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == 1, plan
    # both the map-side (Partial) and reduce-side (Final) rank limits
    assert plan.count("WindowGroupLimit") == 2, plan
