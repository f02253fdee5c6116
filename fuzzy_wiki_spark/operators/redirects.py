"""REDIRECT target resolution (reference O22, the half round 1 skipped).

The reference treats a ``REDIRECT <target>`` document as invalid for
ranking (that half is implemented in engine.py / the redirect segment
meta rows) but, when one is fetched, resolves the target and serves it iff
the target exists and its title is sane (``WikiSearcher.java:81-117``:
extracts the target title, rejects titles ≥ 50 chars, then looks the
target up; a dead target → invalid document).

Spark-first: resolution is ONE equi-join of the redirect subset against
the (path → doc_id) projection of the corpus. Redirects are ~1% of docs,
so the join is a thin shuffle of 2-3 columns on both sides; at 10^12-file
scale the (path, doc_id) projection prunes to two columns at the scan and
AQE picks the join strategy (the redirect side is small enough to
broadcast per-partition after filtering).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

REDIRECT_PREFIX = "REDIRECT"
MAX_TARGET_LEN = 50  # WikiSearcher.java:93 title sanity bound


def resolve_redirects(
    docs: DataFrame,
    content_col: str = "content",
    path_col: str = "path",
    id_col: str = "doc_id",
    max_target_len: int = MAX_TARGET_LEN,
) -> DataFrame:
    """→ (doc_id, target_path, target_doc_id, valid) for every REDIRECT doc.

    ``valid`` reproduces the reference's serve-or-reject decision: the
    extracted target is shorter than ``max_target_len`` AND a document with
    that path exists. ``target_doc_id`` is NULL for dead targets."""
    red = docs.where(
        F.upper(F.coalesce(F.col(content_col), F.lit(""))).startswith(
            REDIRECT_PREFIX
        )
    ).select(
        F.col(id_col).alias("doc_id"),
        F.trim(
            F.substring(F.col(content_col), len(REDIRECT_PREFIX) + 1, 1 << 20)
        ).alias("target_path"),
    )
    targets = docs.select(
        F.col(path_col).alias("target_path"),
        F.col(id_col).alias("target_doc_id"),
    )
    return (
        red.join(targets, "target_path", "left")
        .select(
            "doc_id",
            "target_path",
            "target_doc_id",
            (
                (F.length("target_path") < max_target_len)
                & F.col("target_doc_id").isNotNull()
            ).alias("valid"),
        )
    )
