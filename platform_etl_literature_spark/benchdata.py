"""Literature-shaped corpus derived deterministically from the driver's
test tables, so the flagship grounding pipeline can run — and be
benchmarked — at any scale factor without synthesizing external data.

Mapping (all pure DataFrame ops over the provided parquet):
* diseases  ← nation  (id EFO_{key}, name lowercase)
* targets   ← part    (id ENSG{key}, symbol P{key}, name p_name)
* drugs     ← supplier (id CHEMBL{key}, name s_name)
* epmc      ← documents: one publication per doc; its text is the
  document body and its NER matches mention the entities chosen by
  doc_id modulo each entity table's size (so every publication grounds
  deterministically).
* epmcids   ← documents (PMID=doc_id, PMCID="PMC{doc_id}")
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # read_table memoizes the bind per session — a raw read.parquet
    # re-reads the footer (~80 ms of driver latency) on EVERY call, and
    # one literature-chain construction binds 8 tables (4 of them
    # duplicates of the entity builders' reads).  Same normalization
    # contract as suite._t; none of the corpus tables carries a time
    # column, so this is bind reuse only.
    from platform_etl_literature_spark.sources.events import read_table

    return read_table(spark, sf_dir, name)


def _nrows(sf_dir: str, name: str) -> int:
    """Row count of an input table straight from the parquet footer
    metadata — the same number a distributed ``count()`` job returns,
    read per invocation from the same input file (no caching).  Round
    10: ``epmc_from`` needs three table sizes for its modulo keys, and
    three count() JOBS cost ~0.3 s of scheduling per construction
    (guide §1.2: don't compute things you throw away — the scan is
    thrown away, only the footer's row count is used)."""
    import glob
    import os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in glob.glob(f"{path}/*.parquet")
        )
    return pq.ParquetFile(path).metadata.num_rows


# The builders below render each projection as ONE selectExpr parsed
# JVM-side (the round-10 expression-staging policy, layout.py /
# functions/text.py precedent): a literature-chain construction built
# these frames through ~2,400 py4j round trips of Column-object
# assembly (one trip per F.lit/F.col/alias), all of it pure driver
# latency repeated every bench rep.  Schema (incl. nullability) and
# values are identical — gated by a schema-equality + exceptAll check
# and the full oracle suite.

_EMPTY_STR_ARR = "CAST(array() AS ARRAY<STRING>)"


def diseases_from(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    return nation.selectExpr(
        "concat('EFO_', n_nationkey) AS id",
        "lower(n_name) AS name",
        "struct("
        "array(lower(n_name)) AS hasExactSynonym, "
        f"{_EMPTY_STR_ARR} AS hasNarrowSynonym, "
        f"{_EMPTY_STR_ARR} AS hasBroadSynonym, "
        f"{_EMPTY_STR_ARR} AS hasRelatedSynonym) AS synonyms",
    )


def targets_from(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    empty_lab = "CAST(array() AS ARRAY<STRUCT<label: STRING>>)"
    return part.selectExpr(
        "concat('ENSG', p_partkey) AS id",
        "p_name AS approvedName",
        "concat('P', p_partkey) AS approvedSymbol",
        f"{empty_lab} AS symbolSynonyms",
        f"{empty_lab} AS nameSynonyms",
        f"{empty_lab} AS obsoleteSymbols",
        f"{empty_lab} AS obsoleteNames",
        "CAST(array() AS ARRAY<STRUCT<id: STRING>>) AS proteinIds",
    )


def drugs_from(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = _t(spark, sf_dir, "supplier")
    return sup.selectExpr(
        "concat('CHEMBL', s_suppkey) AS id",
        "s_name AS name",
        f"{_EMPTY_STR_ARR} AS tradeNames",
        f"{_EMPTY_STR_ARR} AS synonyms",
    )


def _match_sql(label_sql: str, type_: str) -> str:
    return (
        "struct("
        f"{label_sql} AS label, '{type_}' AS type, "
        "CAST(0 AS BIGINT) AS startInSentence, "
        "CAST(5 AS BIGINT) AS endInSentence, "
        "CAST(0 AS BIGINT) AS sectionStart, "
        "CAST(5 AS BIGINT) AS sectionEnd)"
    )


_COOC_SQL = (
    "struct("
    "_gp_label AS label1, "
    "CAST(0 AS BIGINT) AS start1, CAST(5 AS BIGINT) AS end1, "
    "_ds_label AS label2, "
    "CAST(6 AS BIGINT) AS start2, CAST(12 AS BIGINT) AS end2, "
    "'GP-DS' AS type, "
    # 10.0D: the D suffix keeps the literal DOUBLE — a bare SQL 10.0 is
    # DECIMAL(3,1) and would flip sentEvidenceScore to decimal(27,6)
    "(doc_id % 100) / 10.0D AS sentEvidenceScore)"
)

_SENTENCE_SQL = (
    "struct("
    "element_at(array('title', 'abstract', 'methods', 'results'), "
    "CAST(doc_id % 4 + 1 AS INT)) AS section, "
    "text AS text, "
    f"array({_match_sql('_ds_label', 'DS')}, "
    f"{_match_sql('_gp_label', 'GP')}, "
    f"{_match_sql('_cd_label', 'CD')}) AS matches, "
    f"array({_COOC_SQL}) AS `co-occurrence`)"
)


def epmc_from(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    nation = _t(spark, sf_dir, "nation").selectExpr(
        "n_nationkey AS _dsk", "lower(n_name) AS _ds_label"
    )
    # mention the (unique) symbol, not p_name: TPC-H part names collide
    # heavily after stem+sort normalization, which makes every GP label
    # ground to hundreds of tied candidates — a pathological corpus, not
    # a representative one (the ambiguity path is covered by fixtures)
    part = _t(spark, sf_dir, "part").selectExpr(
        "p_partkey AS _gpk", "concat('P', p_partkey) AS _gp_label"
    )
    sup = _t(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey AS _cdk", "s_name AS _cd_label"
    )
    n_ds = _nrows(sf_dir, "nation")
    n_gp = _nrows(sf_dir, "part")
    n_cd = _nrows(sf_dir, "supplier")

    base = (
        docs.selectExpr(
            "*",
            f"CAST(doc_id % {n_ds} AS INT) AS _dsk",
            f"doc_id % {n_gp} AS _gpk",
            f"CAST(doc_id % {n_cd} AS INT) AS _cdk",
        )
        .join(F.broadcast(nation), "_dsk")
        .join(part, "_gpk")
        .join(F.broadcast(sup), "_cdk")
    )

    return base.selectExpr(
        "CAST(doc_id AS STRING) AS pmid",
        "concat('PMC', doc_id) AS pmcid",
        "'2021-06-15' AS pubDate",
        "array('Homo sapiens') AS organisms",
        f"array({_SENTENCE_SQL}) AS sentences",
    )


def epmcids_from(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id AS PMID", "concat('PMC', doc_id) AS PMCID", "'doi' AS DOI"
    )


def run_literature_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grounding + processing end-to-end over the derived corpus;
    returns the literatureIndex (the flagship output)."""
    from platform_etl_literature_spark.plans import processing

    out = processing.run(
        spark,
        epmc_from(spark, sf_dir),
        epmcids_from(spark, sf_dir),
        targets_from(spark, sf_dir),
        diseases_from(spark, sf_dir),
        drugs_from(spark, sf_dir),
        trace_source=False,  # derived multi-source corpus
    )
    return out["literatureIndex"]
