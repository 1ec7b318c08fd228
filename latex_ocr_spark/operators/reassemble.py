"""Order-restoring reassembly (K3 analog).

The reference aligns refs and hyps positionally (J3 — its weakest invariant,
/root/reference/model/img2seq.py:245-248); at cluster scale row order is
meaningless, so the (doc_id, offset) key flows through every stage and the
final span sequence is rebuilt with sort_array(collect_list(struct(...))) —
a single hash aggregation, no global sort (north rule: span-sequence equality
(kind, text, media_ref, order) per document).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def reassemble(spans: DataFrame) -> DataFrame:
    """(doc_id, part, kind, text, media_ref, offset) → (doc_id, part, spans)
    with spans sorted by offset (struct field order: offset first so the
    default lexicographic sort_array sorts by it, then reshaped to the
    input_hint field order)."""
    keyed = F.struct(
        F.col("offset").alias("offset"),
        F.col("kind").alias("kind"),
        F.col("text").alias("text"),
        F.col("media_ref").alias("media_ref"),
    )
    return (
        spans.groupBy("doc_id", "part")
        .agg(F.sort_array(F.collect_list(keyed)).alias("ordered"))
        .select(
            "doc_id",
            "part",
            F.transform(
                "ordered",
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ).alias("spans"),
        )
    )


def flat_text(docs: DataFrame) -> DataFrame:
    """(doc_id, part, spans) → the (doc_id, text) training corpus: each
    document's offset-ordered span texts joined with single spaces, keyed by
    the numeric suffix of its ``doc-<n>`` id."""
    return docs.select(
        F.split("doc_id", "-").getItem(1).cast("long").alias("doc_id"),
        F.concat_ws(" ", F.transform("spans", lambda s: s["text"])).alias("text"),
    )
