"""Operator library — the engine's verbs, grouped by family.

KG construction (the reference's pipeline, set-oriented):
  assemble    window-ordered document assembly (two-level hierarchical concat)
  chunking    semantic chunker over mapInPandas
  extraction  ontology-constrained triple extraction (Arrow-batched)
  fused       the whole per-document pipeline as ONE mapInArrow pass
              (task body: kernels.construct.construct_batches;
              the facts/ontology STRSTARTS split and hub connect run in
              kernels.graphs.sublimate_and_connect)
  canonicalize  per-document exact replay of the reference aggregator
                + owl:sameAs alias collapse
  crossdoc    corpus-scale entity resolution (blocking -> one pair scorer
              -> CC -> collision-free minting -> rewrite; batch +
              incremental) and pair-level ER metrics
  cc          the resolvers' shared chain: capped blocks, blocked pairs,
              distributed connected components (min-label + pointer
              jumping)
  validation  predicate diagnostics + RDFS inference (rdfs2/3/7/9)
  critique    deterministic critique scorers
  pagerank    entity-importance PageRank (join+aggregate rounds)

Training-data pipeline:
  dedup       exact / MinHash-LSH / SimHash / embedding near-dup
              (buckets through cc's capped blocks and blocked pairs),
              end-to-end clustering, cross-split leakage scan
  similarity  brute-force + IVF ANN, distributed k-means training
  text_analysis  language ID, quality features, repetition signals,
              PII redaction, decontamination, packing
  dataset     deterministic splits, partition-invariant + mixture sampling
  corpus      the composed corpus build (dedup -> decontaminate ->
              gates -> split -> sharded packing, auditable drops)
  sketch      KMV distinct-count sketch (mergeable, cross-engine exact)
  asof        as-of join (union + running-last window, no non-equi join)
  multimodal  binary media plumbing with optional-dependency codecs

Every operator has a unit/property test; most also carry a driver query
with a DuckDB oracle (COVERAGE.md appendix is the full matrix).
"""
