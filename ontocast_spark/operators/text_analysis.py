"""Text analysis operators for training-data pipelines (all JVM-side
column algebra unless noted): language ID, quality scoring, token
counting. Mirrors the oracled forms in ``ontocast_spark.queries`` as
reusable operators; the document fingerprint is the oracled
``queries.q_doc_fingerprint``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# tiny n-gram/stopword profiles for a heuristic language ID — enough to
# separate the major latin-script languages deterministically
_LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " to ", " is "],
    "de": [" der ", " und ", " die ", " das ", " ist "],
    "fr": [" le ", " la ", " et ", " les ", " est "],
    "es": [" el ", " los ", " de la ", " es ", " una "],
    "it": [" il ", " di ", " che ", " per ", " una "],
}

BPE_ISH_TOKEN_RE = r"[A-Za-z]+|\d+|[^\sA-Za-z\d]"


def language_id_col(text: Column) -> Column:
    """Argmax of per-language marker hit counts; 'und' when nothing
    matches. Pure nested expressions — no UDF."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        score = None
        for m in markers:
            hits = (
                F.length(padded)
                - F.length(F.replace(padded, F.lit(m), F.lit("")))
            ) / len(m)
            score = hits if score is None else score + hits
        scores.append(F.struct(score.alias("s"), F.lit(lang).alias("l")))
    best = F.array_max(F.array(*scores))
    return F.when(best.getField("s") > 0, best.getField("l")).otherwise(
        F.lit("und")
    )


def token_count_col(text: Column, bpe_ish: bool = False) -> Column:
    """Whitespace token count, or a BPE-ish regex token count (letters /
    digits / single punctuation as separate tokens)."""
    if bpe_ish:
        # one regexp_count per row (letters-run | digits-run | single
        # symbol) instead of the replace+split+filter chain
        return F.regexp_count(text, F.lit(BPE_ISH_TOKEN_RE)).cast("long")
    return F.size(F.split(text, r"\s+")).cast("long")


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality features: lengths, token stats, punctuation and
    stopword ratios, uniq-token ratio — the usual pretraining-corpus
    filters."""
    t = F.col(text_col)
    tokens = F.split(t, r"\s+")
    stop_hits = F.size(
        F.filter(
            tokens,
            lambda x: F.lower(x).isin(
                "the", "a", "an", "and", "or", "of", "to", "in", "is", "it"
            ),
        )
    )
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    return docs.select(
        "*",
        F.length(t).alias("q_n_chars"),
        token_count_col(t).alias("q_n_tokens"),
        F.round(
            F.size(F.array_distinct(tokens)).cast("double")
            / F.greatest(F.size(tokens), F.lit(1)).cast("double"),
            4,
        ).alias("q_uniq_ratio"),
        F.round(
            n_punct.cast("double")
            / F.greatest(F.length(t), F.lit(1)).cast("double"),
            4,
        ).alias("q_punct_ratio"),
        F.round(
            stop_hits.cast("double")
            / F.greatest(F.size(tokens), F.lit(1)).cast("double"),
            4,
        ).alias("q_stopword_ratio"),
        language_id_col(t).alias("q_lang"),
    )


def _dup_chars_expr(arr_sql: str) -> str:
    """SQL expr: total characters inside elements that occur more than
    once in the array — computed as a single run-length pass over the
    SORTED array (equal elements are adjacent), so the whole statistic
    is one JVM ``aggregate`` per row: when a run reaches 2 both
    occurrences' chars are charged, each further repeat adds one more
    element's chars. No explode, no shuffle, no UDF."""
    return f"""
    aggregate(
      array_sort({arr_sql}),
      struct(cast('' as string) as prev, 0 as run, cast(0 as long) as dup),
      (acc, x) -> struct(
        x as prev,
        if(x = acc.prev, acc.run + 1, 1) as run,
        acc.dup + (case
          when if(x = acc.prev, acc.run + 1, 1) = 2 then 2L * length(x)
          when if(x = acc.prev, acc.run + 1, 1) > 2 then cast(length(x) as long)
          else 0L end) as dup),
      acc -> acc.dup)
    """


def _top_gram_chars_expr(arr_sql: str) -> str:
    """SQL expr: max over distinct elements of (occurrences x element
    length) — the characters covered by the most repeated gram. Same
    sorted-run trick: the running ``run * length`` peaks exactly at
    each run's end, so tracking the max per step suffices."""
    return f"""
    aggregate(
      array_sort({arr_sql}),
      struct(cast('' as string) as prev, 0 as run, cast(0 as long) as best),
      (acc, x) -> struct(
        x as prev,
        if(x = acc.prev, acc.run + 1, 1) as run,
        greatest(acc.best,
                 cast(if(x = acc.prev, acc.run + 1, 1) as long) * length(x))
          as best),
      acc -> acc.best)
    """


def repetition_signals(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, §A1.1
    repetition filters), per document:

    - ``dup_line_frac`` — fraction of non-empty lines that are
      repeats of another line (1 - distinct/total);
    - ``dup_line_char_frac`` — characters inside duplicated lines /
      total characters;
    - ``top_2gram_char_frac`` — characters covered by the most
      frequent word 2-gram / total characters across ALL 2-grams
      (gram-mass denominator keeps the ratio in [0, 1] — overlapping
      grams cover text characters more than once);
    - ``dup_5gram_char_frac`` — characters inside word 5-grams that
      occur more than once / total characters across all 5-grams.

    Scale: every signal is per-row column algebra over the token/line
    arrays (sorted-run aggregates, see the helper exprs) — no
    explode/groupBy shuffle, no Python. The repeated-content mass a
    crawler corpus carries makes these the highest-leverage quality
    filters after dedup.

    The line/token/gram arrays are materialized as intermediate
    columns (round 6, guide §1/§4): higher-order-function lambdas get
    no common-subexpression elimination, so textually inlining the
    tokenizer into ``transform(..., i -> toks[i] ...)`` re-ran the
    full split+filter once per lambda *element access* —
    O(tokens²) work per document. A multiply-referenced non-cheap
    alias is kept materialized by CollapseProject (same pattern as
    q_minhash_sig), so each array is now computed exactly once per
    row. Measured: 43s → well under 1s for the sf0.1 noop
    materialization, identical values."""
    t = F.col(text_col)
    lines_sql = f"filter(split({text_col}, '\\n'), x -> x != '')"
    toks_sql = f"filter(split(lower({text_col}), '\\\\s+'), x -> x != '')"
    g2_sql = (
        "case when size(__toks) >= 2 then "
        "transform(sequence(0, size(__toks) - 2), "
        "i -> concat(__toks[i], ' ', __toks[i + 1])) "
        "else array() end"
    )
    g5_sql = (
        "case when size(__toks) >= 5 then "
        "transform(sequence(0, size(__toks) - 5), "
        "i -> concat_ws(' ', __toks[i], __toks[i + 1], "
        "__toks[i + 2], __toks[i + 3], __toks[i + 4])) "
        "else array() end"
    )
    n_chars = F.greatest(F.length(t), F.lit(1)).cast("double")
    n_lines = F.expr("size(__lines)")

    def gram_mass(arr_col: str):
        return F.greatest(
            F.expr(
                f"aggregate({arr_col}, 0L, (acc, x) -> acc + length(x))"
            ),
            F.lit(1),
        ).cast("double")

    prep = (
        docs.withColumn("__lines", F.expr(lines_sql))
        .withColumn("__toks", F.expr(toks_sql))
        .withColumn("__g2", F.expr(g2_sql))
        .withColumn("__g5", F.expr(g5_sql))
    )
    return prep.select(
        id_col,
        F.round(
            F.when(n_lines > 0,
                   1.0 - F.expr("size(array_distinct(__lines))")
                   .cast("double") / n_lines.cast("double"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("dup_line_frac"),
        F.round(
            F.expr(_dup_chars_expr("__lines")).cast("double") / n_chars, 6
        ).alias("dup_line_char_frac"),
        F.round(
            F.expr(_top_gram_chars_expr("__g2")).cast("double")
            / gram_mass("__g2"),
            6,
        ).alias("top_2gram_char_frac"),
        F.round(
            F.expr(_dup_chars_expr("__g5")).cast("double")
            / gram_mass("__g5"),
            6,
        ).alias("dup_5gram_char_frac"),
    )


# PII patterns shared with the DuckDB oracle: RE2-safe subset (no
# backreferences / lookaround) so Java regex and RE2 agree exactly.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (
        "phone",
        r"(?:\+?\d{1,3}[-. ]?)?(?:\(\d{3}\)|\d{3})[-. ]\d{3}[-. ]\d{4}\b",
        "<PHONE>",
    ),
]


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub common PII from a text corpus before training: emails,
    SSN-shaped ids, IPv4 addresses, phone numbers — replaced by typed
    placeholders, applied in that fixed order (email first so the
    later digit patterns never fire inside an address). Adds
    ``pii_<kind>`` match counts (measured against the ORIGINAL text,
    independently per pattern — auditable selectivity stats) and
    ``text_redacted``.

    Scale: a chain of JVM ``regexp_replace``/``regexp_count`` column
    expressions — single narrow projection, no shuffle, no Python. The
    pattern set is the RE2-safe subset so the DuckDB oracle runs the
    byte-identical regexes."""
    t = F.col(text_col)
    red = t
    counts = []
    for kind, pat, repl in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0)))
            .alias(f"pii_{kind}")
        )
        red = F.regexp_replace(red, pat, repl)
    return docs.select("*", *counts, red.alias("text_redacted"))


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Benchmark decontamination: drop every corpus document sharing at
    least one word ``ngram``-gram with the benchmark set (the standard
    n-gram-overlap test-set-leakage guard for training corpora).

    Plan shape: explode both sides to (shingle, id), inner-join on the
    shingle, semi-join back — the benchmark side is tiny relative to
    the corpus, so its exploded shingle set broadcasts; the corpus is
    touched by one scan + one projection, never an all-pairs compare.

    Returns (clean_docs, contaminated(doc_id, n_hits)).

    The token array is materialized as a column before the shingle
    transform (round 6): ``slice(split(text), i, n)`` inside the lambda
    re-ran the split once per shingle index — O(tokens²) per document."""
    sh = (
        f"transform(sequence(1, greatest(size(__toks)-{ngram - 1}, 1)), "
        f"i -> array_join(slice(__toks, i, {ngram}), ' '))"
    )
    toks = F.split(F.col(text_col), " ")
    doc_sh = docs.withColumn("__toks", toks).select(
        F.col(id_col), F.explode(F.expr(sh)).alias("g")
    )
    bench_sh = (
        benchmark.withColumn("__toks", toks)
        .select(F.explode(F.expr(sh)).alias("g")).distinct()
    )
    contaminated = (
        doc_sh.join(F.broadcast(bench_sh), "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    clean = docs.join(contaminated.select(id_col), id_col, "left_anti")
    return clean, contaminated


def pack_sequences(
    docs: DataFrame,
    budget_tokens: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col: str | list[str] | None = None,
) -> DataFrame:
    """Greedy sequence packing: assign documents (in deterministic
    ``id_col`` order) to consecutive fixed-token-budget bins via a
    running token cumsum — the standard pretraining sample-packing
    layout, as a single window pass.

    ``seq_id = floor((cumsum - n_tokens) / budget)`` (bin by each doc's
    starting offset): every bin holds consecutive docs whose starts
    fall in one budget span. Oversized single documents occupy their
    own bins (and spill over; the downstream tokenizer truncates).
    Returns (doc_id, n_tokens, seq_id, offset_in_seq).

    Scale: pass ``shard_col`` (a column name or list of names) to pack
    independently within each shard — the cumsum window becomes
    ``partitionBy(*shards)`` and the sort stays distributed (the 100-TB
    form; ``seq_id`` is then per-shard). A single low-cardinality shard
    (e.g. a 90/5/5 ``split``) still funnels most rows through one
    window partition, so the composed corpus build passes
    ``[split, pack_shard]`` with a hashed sub-shard. The global form
    (``shard_col=None``) is a single total ordering and matches the
    DuckDB oracle exactly."""
    shards = (
        [shard_col] if isinstance(shard_col, str) else list(shard_col or [])
    )
    ntok = F.size(F.split(F.col(text_col), r"\s+"))
    w = (
        Window.partitionBy(*shards).orderBy(F.col(id_col))
        if shards
        else Window.orderBy(F.col(id_col))
    )
    cum = F.sum("n_tokens").over(w)
    keep = [id_col] + shards
    return (
        docs.select(*keep, ntok.cast("long").alias("n_tokens"))
        .withColumn("_end", cum)
        .withColumn("_start", F.col("_end") - F.col("n_tokens"))
        .select(
            *keep,
            "n_tokens",
            F.floor(F.col("_start") / budget_tokens).alias("seq_id"),
            (F.col("_start") % budget_tokens).alias("offset_in_seq"),
        )
    )
