"""Outlink extraction from interleaved text+media spans (SURVEY §7 M4).

Input is the BASELINE.json `input_hint` table:
``documents(doc_id, url, spans: array<struct<kind,text,media_ref,offset>>)``.

Contract (the sequential oracle implements the identical rules —
see frontier/oracle.py):
- text spans: every match of ``LINK_RE`` in ``text``, in match order;
- media spans: the ``media_ref`` URL (interleaved media is first-class
  frontier input per the north rule);
- link order within a document is ``(span offset, match index)`` — the
  span-sequence invariant (kind, text, media_ref, order) is preserved
  because extraction never reorders or mutates spans;
- trailing punctuation ``.,;)"'`` is stripped from bare-URL matches (both
  sides apply the same rule).

Everything is builtin JVM column work: explode + regexp_extract_all.
No Python touches row data here at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Portable regex (same semantics in Java and Python re): case-insensitive
# scheme, stop at whitespace/quote/angle bracket.
LINK_RE = r"(?i)https?://[^\s\"'<>]+"
TRAIL_STRIP_RE = r"[.,;)'\"]+$"


def extract_outlinks(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """-> (src_doc_id, src_url, *carry, span_offset, link_idx, raw_url).

    ``carry`` names columns of ``docs`` copied onto each of the document's
    link rows (the scheduler carries the fetched page's ``src_depth``).

    One row per extracted link occurrence. Catalyst prunes ``spans`` down
    to the struct fields used; the explode is pipelined inside the scan
    stage (no shuffle).
    """
    sp = docs.select(
        F.col("doc_id").alias("src_doc_id"),
        F.col("url").alias("src_url"),
        *carry,
        F.explode("spans").alias("span"),
    )
    links_per_span = sp.select(
        "src_doc_id",
        "src_url",
        *carry,
        F.col("span.offset").alias("span_offset"),
        F.when(
            F.col("span.kind") == "media",
            F.when(F.col("span.media_ref").isNotNull(), F.array(F.col("span.media_ref")))
            .otherwise(F.array().cast("array<string>")),
        )
        .otherwise(F.regexp_extract_all(F.col("span.text"), F.lit(LINK_RE), 0))
        .alias("links"),
    )
    return links_per_span.select(
        "src_doc_id",
        "src_url",
        *carry,
        "span_offset",
        F.posexplode("links").alias("link_idx", "raw_url"),
    ).withColumn("raw_url", F.regexp_replace("raw_url", TRAIL_STRIP_RE, ""))
