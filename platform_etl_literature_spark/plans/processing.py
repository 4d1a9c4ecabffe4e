"""Processing step: flatten grounded matches/co-occurrences and build
the literature index (section-weighted harmonic relevance + sentence
JSON per publication).

Re-expression of ``Processing`` (Processing.scala:28-125,180-223).
"""

from __future__ import annotations

from platform_etl_literature_spark.localdf import local_df
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from platform_etl_literature_spark.config import DEFAULT_SECTION_RANKS
from platform_etl_literature_spark.functions.harmonic import harmonic_sql
from platform_etl_literature_spark.plans import grounding


def section_rank_table(spark: SparkSession) -> DataFrame:
    """Lift the config section-rank list to a broadcastable table
    (Processing.scala:59-64)."""
    return local_df(
        spark,
        [(r.section, r.rank, r.weight) for r in DEFAULT_SECTION_RANKS],
        "section STRING, rank INT, weight DOUBLE",
    )


def filter_matches(df: DataFrame) -> DataFrame:
    """Flatten the match struct, keep mapped rows
    (Processing.filterMatches:41-51)."""
    return df.select("*", "match.*").drop("match").filter(F.col("isMapped"))


def filter_cooccurrences(df: DataFrame) -> DataFrame:
    """Flatten the co-occurrence struct (its hyphenated name needs
    backticks), keep mapped rows (Processing.filterCooccurrences:28-39)."""
    return df.select("*", "`co-occurrence`.*").drop("co-occurrence").filter(F.col("isMapped"))


def literature_index(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Per-(pmid, keyword) relevance for the search index
    (Processing.filterMatchesForCH:53-125):

    * per (pmid, section, keyword): the section weight repeated per
      mention (title fixed to its configured weight once),
    * per (pmid, keyword): weights flattened in section-rank order →
      positional harmonic sum,
    * per pmid: title/abstract mentions serialized to a JSON sentences
      blob.
    """
    title_weight = next(r.weight for r in DEFAULT_SECTION_RANKS if r.section == "title")
    rank_table = F.broadcast(section_rank_table(spark))

    # Projections and window expressions are staged as selectExpr
    # strings (round 10 expression staging) — same values, same column
    # order; the OVER clauses carry the identical partitioning/ordering
    # (and collect_list over an ORDER BY window keeps the default
    # running frame in both forms).
    fdf = df.selectExpr(
        *[
            "CAST(pmid AS BIGINT) AS pmid"
            if c == "pmid"
            else ("type AS keywordType" if c == "type" else f"`{c}`")
            for c in df.columns
        ]
    )
    # No exchange of its own: the match stream arrives hash-partitioned
    # by CAST(pmid AS BIGINT) (grounding.resolve_entities), which is this
    # projection's pmid, and partitioning by pmid alone satisfies both
    # windows ((pmid, section, keywordId) and (pmid, keywordId)), both
    # dropDuplicates, the sentences branch's two groupBys and the final
    # join on pmid.  Any other input gets the exchanges it needs from
    # the planner.
    #
    # The sentences JSON must not depend on row order, which follows the
    # shuffle layout: each section's matches are sorted by position
    # (the struct's leading fields), then projected to the published
    # field order; sections are sorted descending, so title precedes
    # abstract.
    sentences_df = (
        fdf.filter(F.col("section").isin("title", "abstract"))
        .groupBy("pmid", "section")
        .agg(
            F.expr(
                "struct(section, transform(array_sort(collect_list(struct("
                "sectionStart, startInSentence, endInSentence, keywordId,"
                " label, keywordType, sectionEnd))), m -> struct("
                "m.label, m.keywordType, m.keywordId, m.startInSentence,"
                " m.endInSentence, m.sectionStart, m.sectionEnd)) AS matches)"
            ).alias("sentencesBySection")
        )
        .groupBy("pmid")
        .agg(
            F.expr(
                "to_json(sort_array(collect_list(sentencesBySection), false))"
            ).alias("sentences")
        )
    )

    return (
        fdf.join(rank_table, ["section"], "left_outer")
        .na.fill({"rank": 100, "weight": 0.01})
        .selectExpr(
            "*",
            "CASE WHEN section != 'title' THEN collect_list(weight)"
            " OVER (PARTITION BY pmid, section, keywordId)"
            f" ELSE array({title_weight!r}D) END AS keywordSectionV",
        )
        .dropDuplicates(["pmid", "section", "keywordId"])
        .selectExpr(
            "*",
            "flatten(collect_list(keywordSectionV)"
            " OVER (PARTITION BY pmid, keywordId ORDER BY rank ASC))"
            " AS relevanceV",
        )
        .selectExpr("*", f"{harmonic_sql('relevanceV')} AS relevance")
        .dropDuplicates(["pmid", "keywordId"])
        .join(sentences_df, ["pmid"], "left_outer")
        .select(
            "pmid",
            "pmcid",
            "date",
            "year",
            "month",
            "day",
            "keywordId",
            "relevance",
            "keywordType",
            "sentences",
        )
    )


def run(
    spark: SparkSession,
    epmc: DataFrame,
    epmcids: DataFrame,
    targets: DataFrame,
    diseases: DataFrame,
    drugs: DataFrame,
    trace_source: bool = True,
) -> dict[str, DataFrame]:
    """Full processing step (Processing.apply:180-223): grounding →
    persist reused branches → flatten → literature index.

    Returns the five output DataFrames for the caller to write
    (sources.write_to).  Write them in the returned order: ``matches``
    before ``literatureIndex``, so the index is planned over the built
    matches cache, which reports its pmid partitioning (an unbuilt cache
    reports none, and the planner would add the exchanges the index
    otherwise avoids).
    """
    g = grounding.compute(epmc, epmcids, targets, diseases, drugs, trace_source)
    for name in ("matches", "cooccurrences"):
        g[name].persist(StorageLevel.DISK_ONLY)

    matches = filter_matches(g["matches"])
    coocs = filter_cooccurrences(g["cooccurrences"])
    return {
        "failedMatches": g["matchesFailed"],
        "failedCooccurrences": g["cooccurrencesFailed"],
        "matches": matches,
        "cooccurrences": coocs,
        "literatureIndex": literature_index(matches, spark),
    }
