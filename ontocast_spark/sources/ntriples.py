"""N-Triples sink/source — the wire format for bulk-loading external
triple stores (Fuseki `tdbloader`, Neo4j n10s import), replacing the
reference's per-document HTTP PUT / bolt writes
(/root/reference/ontocast/tool/triple_manager/fuseki.py:303-334,
neo4j.py:389-412) with a fully distributed file export: formatting is
pure column algebra (whole-stage codegen) and the write is a plain
``df.write.text`` — no driver bottleneck, one file per task.

Language-tagged literals use the dt-slot ``"@tag"`` sentinel of the
internal triple model (see sources/turtle.py); writers also accept an
explicit ``obj_lang`` column (merged via schemas.merge_lang_columns).

Unescaping is JVM-side (replace chain over the spec's simple escapes)
for the common case; lines carrying ``\\uXXXX``/``\\UXXXXXXXX`` escapes
or raw U+0001 bytes — where a replace chain would mis-handle order —
fall back to an Arrow-batched single left-to-right pass.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ..schemas import merge_lang_columns


def _escape_literal(col: Column) -> Column:
    # N-Triples literal escaping: backslash, quote, newline, CR, tab
    out = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    out = F.replace(out, F.lit('"'), F.lit('\\"'))
    out = F.replace(out, F.lit("\n"), F.lit("\\n"))
    out = F.replace(out, F.lit("\r"), F.lit("\\r"))
    return F.replace(out, F.lit("\t"), F.lit("\\t"))


def to_ntriples_lines(triples: DataFrame) -> DataFrame:
    """(subj, pred, obj, obj_is_literal, obj_datatype[, obj_lang]) ->
    one-column DataFrame of N-Triples lines."""
    triples = merge_lang_columns(triples)
    dt = F.col("obj_datatype")
    annot = (
        F.when(dt.isNull(), F.lit(""))
        .when(dt.startswith("@"), dt)  # language tag
        .otherwise(F.concat(F.lit("^^<"), dt, F.lit(">")))
    )
    obj_term = F.when(
        ~F.col("obj_is_literal"), F.concat(F.lit("<"), F.col("obj"), F.lit(">"))
    ).otherwise(
        F.concat(F.lit('"'), _escape_literal(F.col("obj")), F.lit('"'), annot)
    )
    return triples.select(
        F.concat(
            F.lit("<"), F.col("subj"), F.lit("> <"), F.col("pred"), F.lit("> "),
            obj_term, F.lit(" ."),
        ).alias("value")
    )


def write_ntriples(triples: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Distributed N-Triples export (one part file per task)."""
    to_ntriples_lines(triples).write.mode(mode).text(path)


_NT_ESCAPE_RE = re.compile(r"\\(u[0-9A-Fa-f]{4}|U[0-9A-Fa-f]{8}|.)", re.DOTALL)
_NT_SIMPLE = {
    "n": "\n", "t": "\t", "r": "\r", "b": "\b", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}


def _unescape_py(s: str) -> str:
    """Single left-to-right pass over the full NT escape grammar."""

    def sub(m: re.Match) -> str:
        g = m.group(1)
        if g[0] in "uU" and len(g) > 1:
            return chr(int(g[1:], 16))
        return _NT_SIMPLE.get(g, g)

    return _NT_ESCAPE_RE.sub(sub, s)


def _unescape_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(StringType())
    def nt_unescape(col: pd.Series) -> pd.Series:
        return col.map(lambda s: _unescape_py(s) if isinstance(s, str) else s)

    return nt_unescape


def read_ntriples(spark, path: str) -> DataFrame:
    """Parse N-Triples lines back to the triple schema. Common-case
    unescape stays JVM-side; lines needing \\u expansion or containing
    raw U+0001 take the Arrow-batched exact pass."""
    lines = spark.read.text(path).filter(F.length(F.trim("value")) > 0)
    iri_obj = F.regexp_extract("value", r"^<[^>]*> <[^>]*> <([^>]*)> \.$", 1)
    lit_body = r'^<[^>]*> <[^>]*> "((?:[^"\\]|\\.)*)"'
    lit_obj = F.regexp_extract("value", lit_body + r".* \.$", 1)
    lit_dt = F.regexp_extract("value", lit_body + r"\^\^<([^>]*)> \.$", 2)
    lit_lang = F.regexp_extract(
        "value", lit_body + r"(@[a-zA-Z][a-zA-Z0-9\-]*) \.$", 2
    )
    is_lit = iri_obj == ""
    # JVM fast path: park escaped backslashes in a sentinel, then expand
    # the simple escapes (safe because rows containing the sentinel byte
    # or \u escapes are routed to the exact pass below)
    sentinel = "\x01"
    unescape = F.replace(lit_obj, F.lit("\\\\"), F.lit(sentinel))
    for esc, raw in (("\\t", "\t"), ("\\r", "\r"), ("\\n", "\n"), ('\\"', '"')):
        unescape = F.replace(unescape, F.lit(esc), F.lit(raw))
    unescape = F.replace(unescape, F.lit(sentinel), F.lit("\\"))
    needs_exact = lit_obj.contains(sentinel) | lit_obj.rlike(r"\\[uU]")
    exact = _unescape_udf()(lit_obj)
    return lines.select(
        F.regexp_extract("value", r"^<([^>]*)>", 1).alias("subj"),
        F.regexp_extract("value", r"^<[^>]*> <([^>]*)>", 1).alias("pred"),
        F.when(is_lit & needs_exact, exact)
        .when(is_lit, unescape)
        .otherwise(iri_obj)
        .alias("obj"),
        is_lit.alias("obj_is_literal"),
        F.when(is_lit & (lit_lang != ""), lit_lang)
        .when(is_lit & (lit_dt != ""), lit_dt)
        .alias("obj_datatype"),
    )
