"""Data-integrity suite as DataFrame assertions (SURVEY.md §5.4).

The reference ships integrity tests as a product feature
(/root/reference/src/sssom_curator/testing.py:42-195), run by the ``test``
CLI (repository.py:918-937). Each check here returns a DataFrame of
violations (empty = pass), so every check runs distributed;
``run_integrity_suite`` counts each one, one ``count()`` job per check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sssom_curator_spark.functions.curie_ops import curie_prefix
from sssom_curator_spark.operators.relational import redundancy_report
from sssom_curator_spark.schema import STATUSES

__all__ = ["run_integrity_suite"]

_JUSTIFICATIONS = {
    "semapv:LexicalMatching",
    "semapv:ManualMappingCuration",
    "semapv:SemanticSimilarityThresholdMatching",
    "semapv:UnspecifiedMatching",
}


def check_justification_vocab(repo: DataFrame) -> DataFrame:
    """testing.py:61-72: justification must come from the semapv vocab."""
    return repo.filter(
        ~F.col("mapping_justification").isin(list(_JUSTIFICATIONS))
        | (curie_prefix("mapping_justification") != "semapv")
    ).select("record_id", "mapping_justification")


def check_predictions_not_manual(repo: DataFrame) -> DataFrame:
    """testing.py:74-81: predicted rows must not be ManualMappingCuration."""
    return repo.filter(
        (F.col("status") == "predicted")
        & (F.col("mapping_justification") == "semapv:ManualMappingCuration")
    ).select("record_id", "mapping_justification")


def check_curie_normalization(repo: DataFrame, prefix_map: dict[str, str]) -> DataFrame:
    """testing.py:83-108: every CURIE prefix must be in the prefix map."""
    known = list(prefix_map)
    return repo.filter(
        ~curie_prefix("subject_id").isin(known)
        | ~curie_prefix("object_id").isin(known)
        | ~curie_prefix("predicate_id").isin(known)
    ).select("record_id", "subject_id", "predicate_id", "object_id")


def check_orcid_authors(repo: DataFrame) -> DataFrame:
    """testing.py:110-124: authors/reviewers must be orcid CURIEs."""
    bad_author = F.exists(
        F.coalesce("author_id", F.array()), lambda a: F.substring_index(a, ":", 1) != "orcid"
    )
    bad_reviewer = F.exists(
        F.coalesce("reviewer_id", F.array()), lambda a: F.substring_index(a, ":", 1) != "orcid"
    )
    return repo.filter(bad_author | bad_reviewer).select("record_id", "author_id", "reviewer_id")


def check_redundancy(repo: DataFrame) -> DataFrame:
    """testing.py:126-159 via redundancy_report (A5)."""
    frames = {s: repo.filter(F.col("status") == s).drop("status") for s in STATUSES}
    return redundancy_report(frames)


def run_integrity_suite(repo: DataFrame, prefix_map: dict[str, str]) -> dict[str, int]:
    """Run all distributed checks, one ``count()`` job each; returns
    violation counts per check."""
    checks = {
        "justification_vocab": check_justification_vocab(repo),
        "predictions_not_manual": check_predictions_not_manual(repo),
        "curie_normalization": check_curie_normalization(repo, prefix_map),
        "orcid_authors": check_orcid_authors(repo),
        "redundancy": check_redundancy(repo),
    }
    return {name: df.count() for name, df in checks.items()}
