"""Enrichment match verification (J4): the verdict column over joined pairs.

The reference verifies each doc against its PubMed lookup: exact
normalized-DOI equality first; on DOI absence, title similarity
(SequenceMatcher.ratio() >= 0.90); DOI conflict rejects outright
(pubmed_enrichment.py:270-296). Scale design: the similarity predicate
never runs on a cartesian — candidates come from an equi-join (on the doc
key or a blocking key); the ratio only scores already-matched pairs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from rag_pipelines_spark.functions.text import lev_sim, norm_doi, norm_text


@F.pandas_udf(DoubleType())
def seq_ratio_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Exact difflib.SequenceMatcher.ratio() parity (Arrow-batched).

    ref: pubmed_enrichment.py:291-293. Use only on pre-blocked candidate
    pairs — it is the slow path; `lev_sim` is the JVM-side proxy.
    """
    from difflib import SequenceMatcher

    return pd.Series(
        [
            SequenceMatcher(None, x or "", y or "").ratio()
            for x, y in zip(a, b)
        ]
    )


def verify_match(
    local_title: Column,
    local_doi: Column,
    pm_title: Column,
    pm_doi: Column,
    threshold: float = 0.90,
    exact_ratio: bool = False,
) -> Column:
    """Verification verdict column: 'doi' | 'title' | 'conflict' | 'unverified'.

    Mirrors DocumentVerifier.verify (pubmed_enrichment.py:270-296):
    both DOIs present -> equal (normalized) = 'doi' else 'conflict';
    else titles similar >= threshold -> 'title'; else 'unverified'.
    """
    sim_fn = seq_ratio_udf if exact_ratio else lev_sim
    both_doi = (
        F.nullif(local_doi, F.lit("")).isNotNull()
        & F.nullif(pm_doi, F.lit("")).isNotNull()
    )
    doi_eq = norm_doi(local_doi) == norm_doi(pm_doi)
    title_ok = (
        F.nullif(local_title, F.lit("")).isNotNull()
        & F.nullif(pm_title, F.lit("")).isNotNull()
        & (sim_fn(norm_text(local_title), norm_text(pm_title)) >= threshold)
    )
    return (
        F.when(both_doi & doi_eq, "doi")
        .when(both_doi & ~doi_eq, "conflict")
        .when(title_ok, "title")
        .otherwise("unverified")
    )
