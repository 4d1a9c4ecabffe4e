"""Evidence step: target–disease evidence from embedding similarity
(matches path) and sentence co-occurrences (coocs path).

Re-expression of ``Evidence`` (Evidence.scala:12-146).  The cosine
similarity runs natively on ``array<double>`` vectors (the reference's
JVM UDF ``computeSimilarityScore``, Helpers.scala:82-92, disappears into
Catalyst HOFs), and the Word2Vec vector table is converted from
VectorUDT exactly once.

Scale notes: the DS×GP self-join (J10) shuffles on the publication key;
hub publications (many mentions) are the skew risk — AQE skew-join
splits them.  The per-pair ``first(vector)`` keeps vectors out of the
groupBy hash only once per pair rather than per publication.
"""

from __future__ import annotations

import sys

from pyspark.ml.feature import Word2VecModel
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from platform_etl_literature_spark.config import EvidenceConfig
from platform_etl_literature_spark.functions.harmonic import (
    harmonic_sorted,
    harmonic_sql,
)
from platform_etl_literature_spark.functions.vectors import array_cosine_sql
from platform_etl_literature_spark.plans.processing import section_rank_table

MATCHES_FIELDS = [
    "datasourceId",
    "datatypeId",
    "targetFromSourceId",
    "diseaseFromSourceMappedId",
    "resourceScore",
    "similarity",
    "harmonicSimilarity",
    "sharedPublicationCount",
    "meanTargetFreqPerPub",
    "meanDiseaseFreqPerPub",
]

COOCS_FIELDS = [
    "targetFromSourceId",
    "diseaseFromSourceMappedId",
    "harmonicCooccurrenceSentiment",
    "cooccurredPublicationCount",
]


def model_vectors(model: Word2VecModel) -> DataFrame:
    """word → array<double> vector (single VectorUDT crossing)."""
    return model.getVectors().select(
        "word", vector_to_array(F.col("vector")).alias("vector")
    )


def evidence_from_matches(
    vectors: DataFrame,
    matches: DataFrame,
    spark: SparkSession,
    threshold: float | None = None,
) -> DataFrame:
    """Matches path (Evidence.computeEvidenceFromMatches:36-104):
    mention frequency per (pmid, type, keyword) → attach vectors →
    DS×GP pairing per publication → per-pair stats → cosine similarity
    threshold → harmonic over the similarity repeated per shared
    publication.

    ``vectors`` is a (word, vector: array<double>) table — pass
    ``model_vectors(model)`` for the Word2Vec model, or any embedding
    table (the step is embedding-agnostic by design).
    """
    rank_table = F.broadcast(section_rank_table(spark))
    thresh = threshold if threshold is not None else sys.float_info.min

    m_with_v = (
        matches.filter(F.col("isMapped") == True)  # noqa: E712
        .join(rank_table, ["section"])
        .groupBy("pmid", "type", "keywordId")
        .agg(F.count("pmid").alias("f"))
        .join(vectors, F.col("word") == F.col("keywordId"))
        .drop("word")
    )

    # Rename chains and the scoring withColumn chain are staged as
    # selectExpr strings (round 10 expression staging) — same columns,
    # same order, same values; the similarity threshold stays a Column
    # comparison so the float literal never round-trips through the
    # SQL parser.
    ds = m_with_v.filter(F.col("type") == "DS").selectExpr(
        "pmid AS diseaseP",
        "keywordId AS diseaseFromSourceMappedId",
        "f AS diseaseF",
        "vector AS diseaseV",
    )
    gp = m_with_v.filter(F.col("type") == "GP").selectExpr(
        "pmid AS targetP",
        "keywordId AS targetFromSourceId",
        "f AS targetF",
        "vector AS targetV",
    )

    harm = harmonic_sql(
        "sort_array(array_repeat(similarity, sharedPublicationCount), false)"
    )
    return (
        ds.join(
            gp,
            (F.col("targetP") == F.col("diseaseP"))
            & (F.col("diseaseFromSourceMappedId") != F.col("targetFromSourceId")),
            "inner",
        )
        .groupBy("targetFromSourceId", "diseaseFromSourceMappedId")
        .agg(
            F.first("targetV").alias("targetV"),
            F.first("diseaseV").alias("diseaseV"),
            F.mean("targetF").alias("meanTargetFreqPerPub"),
            F.mean("diseaseF").alias("meanDiseaseFreqPerPub"),
            F.count("targetP").alias("sharedPublicationCount"),
        )
        .selectExpr(
            "targetFromSourceId",
            "diseaseFromSourceMappedId",
            "targetV",
            "diseaseV",
            "meanTargetFreqPerPub",
            "meanDiseaseFreqPerPub",
            "CAST(sharedPublicationCount AS INT) AS sharedPublicationCount",
            f"{array_cosine_sql('targetV', 'diseaseV')} AS similarity",
        )
        .filter(F.col("similarity") > thresh)
        .selectExpr(
            "'ew2v' AS datasourceId",
            "'literature' AS datatypeId",
            "targetFromSourceId",
            "diseaseFromSourceMappedId",
            f"{harm} AS resourceScore",
            "similarity",
            f"{harm} AS harmonicSimilarity",
            "sharedPublicationCount",
            "meanTargetFreqPerPub",
            "meanDiseaseFreqPerPub",
        )
    )


def evidence_from_coocs(coocs: DataFrame) -> DataFrame:
    """Co-occurrence path (Evidence.computeEvidenceFromCoocs:106-130):
    GP–DS sentence co-occurrences under 600 chars → harmonic of the
    scaled sentiment scores + distinct publication count."""
    return (
        coocs.filter(
            (F.col("isMapped") == True)  # noqa: E712
            & (F.col("type1") == "GP")
            & (F.col("type2") == "DS")
            & (F.length("text") < 600)
        )
        # staged projection (round 10): the renames + score scaling in
        # one parse; only the aggregation's inputs survive (column
        # pruning dropped the rest anyway)
        .selectExpr(
            "pmid",
            "keywordId1 AS targetFromSourceId",
            "keywordId2 AS diseaseFromSourceMappedId",
            "evidence_score / 10.0D AS cooccurrenceScore",
        )
        .groupBy("targetFromSourceId", "diseaseFromSourceMappedId")
        .agg(
            harmonic_sorted("collect_list(cooccurrenceScore)").alias(
                "harmonicCooccurrenceSentiment"
            ),
            F.countDistinct("pmid").cast("int").alias("cooccurredPublicationCount"),
        )
        .select(*COOCS_FIELDS)
    )


def run(
    spark: SparkSession,
    model: Word2VecModel,
    matches: DataFrame,
    coocs: DataFrame,
    conf: EvidenceConfig | None = None,
) -> DataFrame:
    """Full evidence step (Evidence.generateEvidence:132-146): left join
    the two paths on the pair key, nulls → 0.0."""
    conf = conf or EvidenceConfig()
    ev_m = evidence_from_matches(model_vectors(model), matches, spark, conf.threshold)
    ev_c = evidence_from_coocs(coocs)
    join_cols = ["targetFromSourceId", "diseaseFromSourceMappedId"]
    return ev_m.join(ev_c, join_cols, "left_outer").na.fill(0.0)
