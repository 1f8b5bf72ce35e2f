"""Output checks and quality metrics, computed outside every timed region.

An iteration passes when its pair-set and cluster fingerprints equal the
first iteration's, a seeded sample of its scores (or Jaccard values)
recomputes in plain Python within tolerance, and every cluster id is its
component's minimum member id.
"""

from __future__ import annotations

import re
from collections import Counter
from datetime import datetime

SAMPLE = 200
SCORE_TOL = 1e-9
JACCARD_TOL = 1e-12
_DATE_FORMATS = ["%Y-%m-%d", "%m/%d/%Y", "%d/%m/%Y", "%B %d, %Y", "%d-%b-%Y"]


def fingerprint(df, cols: list[str]) -> tuple[int, int]:
    """Row count plus an order-insensitive hash of ``cols``."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in cols])).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def seeded_sample(df, seed: int, cols: list[str]) -> list:
    from pyspark.sql import functions as F

    return (
        df.orderBy(F.xxhash64(F.col("id1"), F.col("id2"), F.lit(seed)), "id1", "id2")
        .select(*cols)
        .limit(SAMPLE)
        .collect()
    )


def _std_date(s):
    if s is None:
        return None
    for fmt in _DATE_FORMATS:
        try:
            return datetime.strptime(s, fmt).strftime("%Y-%m-%d")
        except ValueError:
            continue
    return None


def score_mismatches(rows, by_id: dict, matcher) -> int:
    """Sampled pairs whose ``score`` differs from ``core.match_records``;
    ``by_id`` maps record id to its raw input row."""
    from name_matching_spark.core import match_records

    bad = 0
    for r in rows:
        a, b = by_id[r["id1"]], by_id[r["id2"]]
        geo1 = {g: a[g] or "" for g in matcher.geo_fields} or None
        geo2 = {g: b[g] or "" for g in matcher.geo_fields} or None
        use_bd = matcher.use_birthdate
        score, _, _ = match_records(
            a["first_name"], a["middle_name_last_name"],
            b["first_name"], b["middle_name_last_name"],
            birthdate1=_std_date(a["birthdate"]) if use_bd else None,
            birthdate2=_std_date(b["birthdate"]) if use_bd else None,
            compare_birthdate=use_bd or None,
            geo1=geo1, geo2=geo2,
            name_weights=matcher.name_weights,
            additional_weights=matcher.additional_weights,
            match_threshold=matcher.match_threshold,
            non_match_threshold=matcher.non_match_threshold,
        )
        if abs(score - r["score"]) > SCORE_TOL:
            bad += 1
    return bad


def _shingles(text: str, k: int) -> set[str]:
    norm = re.sub(r"[ \t\n\x0b\f\r]+", " ", text).lower()
    if len(norm) < k:
        return {norm}
    return {norm[i:i + k] for i in range(len(norm) - k + 1)}


def jaccard_mismatches(rows, frame, k: int, threshold: float) -> int:
    """Sampled reranked pairs whose Jaccard differs from a plain-Python
    recomputation, or which fall below the threshold."""
    text = dict(zip(frame["doc_id"], frame["content"]))
    bad = 0
    for r in rows:
        a, b = _shingles(text[r["id1"]], k), _shingles(text[r["id2"]], k)
        inter = len(a & b)
        j = inter / (len(a) + len(b) - inter)
        if abs(j - r["jaccard"]) > JACCARD_TOL or r["jaccard"] < threshold:
            bad += 1
    return bad


def cluster_label_errors(clusters) -> int:
    """Clusters whose id is not their minimum member id (Spark-side)."""
    from pyspark.sql import functions as F

    return (
        clusters.groupBy("cluster_id")
        .agg(F.min("record_id").alias("m"))
        .filter(F.col("m") != F.col("cluster_id"))
        .count()
    )


def union_find(ids, edges) -> dict:
    """record id -> minimum member id of its component."""
    parent = {x: x for x in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return {x: find(x) for x in parent}


def pairwise_f1(labels: dict, truth) -> float:
    """Pairwise F1 of co-clustered record pairs against ground truth."""
    entity = dict(zip(truth["record_id"], truth["entity_id"]))

    def pairs(counts):
        return sum(c * (c - 1) // 2 for c in counts.values())

    predicted = pairs(Counter(labels.values()))
    true = pairs(Counter(entity.values()))
    tp = pairs(Counter((labels[r], entity[r]) for r in labels))
    if not tp:
        return 0.0
    precision, recall = tp / predicted, tp / true
    return 2 * precision * recall / (precision + recall)
