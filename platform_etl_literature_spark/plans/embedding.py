"""Embedding step: per-publication entity sets → Word2Vec model.

Re-expression of ``Embedding`` (Embedding.scala:13-79) +
``Helpers.makeWord2VecModel`` (Helpers.scala:60-80) with
``pyspark.ml.feature.Word2Vec`` and the reference's exact parameters
(reference.conf:84-90), plus an explicit seed (the reference leaves the
seed random, which makes runs irreproducible — SURVEY.md §7.5).
"""

from __future__ import annotations

from pyspark.ml.feature import Word2Vec, Word2VecModel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from platform_etl_literature_spark.config import Word2VecConfig
from platform_etl_literature_spark.plans.processing import section_rank_table

W2V_TYPES = ["DS", "GP", "CD"]


def filter_matches_for_embedding(matches: DataFrame) -> DataFrame:
    """Keep mapped mentions of the three entity types
    (Embedding.filterMatches:13-23)."""
    return matches.filter(
        (F.col("isMapped") == True) & F.col("type").isin(W2V_TYPES)  # noqa: E712
    )


def regroup_matches(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Training sentences: entity sets per (pmid, section-rank) plus an
    overall per-pmid set (Embedding.regroupMatches:25-67).

    Output: (pmid, terms: array<string>) — one row per rank group and
    one for the full publication, whose set concatenates the rank
    groups in rank order.  Sets are sorted, so the rows do not depend on
    the order in which mentions arrive.
    """
    rank_table = F.broadcast(section_rank_table(spark))
    return (
        df.join(rank_table, ["section"])
        .groupBy("pmid", "rank")
        .agg(F.array_sort(F.collect_set("keywordId")).alias("keys"))
        .groupBy("pmid")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(rank, keys))), r -> r.keys)"
            ).alias("keys")
        )
        .withColumn("overall", F.flatten(F.col("keys")))
        .withColumn("all", F.concat(F.col("keys"), F.array(F.col("overall"))))
        .withColumn("terms", F.explode("all"))
        .select("pmid", "terms")
    )


def make_word2vec_model(
    df: DataFrame,
    conf: Word2VecConfig | None = None,
    input_col: str = "terms",
    output_col: str = "synonyms",
) -> Word2VecModel:
    """Train Word2Vec (Helpers.makeWord2VecModel:60-80)."""
    conf = conf or Word2VecConfig()
    w2v = (
        Word2Vec()
        .setWindowSize(conf.window_size)
        .setNumPartitions(conf.num_partitions)
        .setMaxIter(conf.max_iter)
        .setMinCount(conf.min_count)
        .setStepSize(conf.step_size)
        .setVectorSize(conf.vector_size)
        .setInputCol(input_col)
        .setOutputCol(output_col)
    )
    if conf.seed is not None:
        w2v = w2v.setSeed(conf.seed)
    return w2v.fit(df)


def run(
    spark: SparkSession,
    matches: DataFrame,
    conf: Word2VecConfig | None = None,
) -> tuple[Word2VecModel, DataFrame]:
    """Full embedding step (Embedding.generateModel:69-79): returns the
    model and the training set (the reference also writes the training
    set; callers persist/write as needed)."""
    training = regroup_matches(filter_matches_for_embedding(matches), spark).persist()
    model = make_word2vec_model(training, conf)
    return model, training
