"""End-to-end pipeline tests on the miniature literature fixtures:
processing (grounding → matches/coocs/index) → embedding (Word2Vec) →
vectors → evidence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from platform_etl_literature_spark.config import Word2VecConfig
from platform_etl_literature_spark.plans import (
    embedding,
    evidence,
    grounding,
    processing,
)
from platform_etl_literature_spark.plans import vectors as vectors_plan
from tests import fixtures


@pytest.fixture(scope="module")
def outputs(spark):
    return processing.run(
        spark,
        fixtures.epmc_df(spark),
        fixtures.epmcids_df(spark),
        fixtures.targets_df(spark),
        fixtures.diseases_df(spark),
        fixtures.drugs_df(spark),
    )


def test_matches_schema_and_grounding(outputs):
    m = outputs["matches"]
    assert {
        "pmid", "pmcid", "pubDate", "date", "year", "month", "day",
        "organisms", "section", "text", "trace_source", "endInSentence",
        "label", "labelN", "sectionEnd", "sectionStart", "startInSentence",
        "type", "keywordId", "isMapped",
    } <= set(m.columns)
    rows = m.collect()
    assert all(r["isMapped"] for r in rows)
    by_kw = {(r["pmid"], r["label"]): r["keywordId"] for r in rows}
    # symbol (TT) grounding
    assert by_kw[("101", "BRCA1")] == "ENSG00000012048"
    # stemmed-label (LT) grounding across possessive/plural variants
    assert by_kw[("101", "Alzheimer's disease")] == "EFO_0000249"
    assert by_kw[("101", "Alzheimer disease")] == "EFO_0000249"
    assert by_kw[("102", "Alzheimer diseases")] == "EFO_0000249"
    # drug name, case-insensitive
    assert by_kw[("101", "aspirin")] == "CHEMBL25"
    # pmid recovered from PMC103 via the lookup
    assert by_kw[("103", "BRCA1")] == "ENSG00000012048"


def test_section_lowercased_and_dates(outputs):
    m = outputs["matches"].collect()
    secs = {r["section"] for r in m}
    assert "methods" in secs and "Methods" not in secs
    r101 = [r for r in m if r["pmid"] == "101"][0]
    assert (r101["year"], r101["month"], r101["day"]) == (2021, 3, 15)


def test_failed_and_dropped_rows(outputs, spark):
    failed = outputs["failedMatches"].collect()
    assert {r["label"] for r in failed} == {"XYZZY"}
    all_pmids = {r["pmid"] for r in outputs["matches"].collect()}
    # "0" sentinel (no pmcid) unresolvable; 104 killed by the anti join
    assert "0" not in all_pmids and "104" not in all_pmids


def test_cooccurrences_grounded(outputs):
    c = outputs["cooccurrences"].collect()
    assert len(c) == 2
    for cc in c:
        assert cc["type"] == "GP-DS"
        assert cc["keywordId1"] == "ENSG00000012048"
        assert cc["keywordId2"] == "EFO_0000249"
        assert cc["isMapped"] is True
    scores = sorted(cc["evidence_score"] for cc in c)
    assert scores == [7.0, 9.0]


def test_literature_index_relevance(outputs):
    idx = {
        (r["pmid"], r["keywordId"]): r
        for r in outputs["literatureIndex"].collect()
    }
    # BRCA1 in pub 103: single title mention → relevance = title weight
    assert idx[(103, "ENSG00000012048")]["relevance"] == pytest.approx(1.0)
    # aspirin in pub 101: single methods mention (rank 3, weight .3)
    assert idx[(101, "CHEMBL25")]["relevance"] == pytest.approx(0.3)
    # sentences JSON exists for pubs with title/abstract matches
    assert idx[(103, "ENSG00000012048")]["sentences"] is not None
    assert '"section":"title"' in idx[(103, "ENSG00000012048")]["sentences"]
    # keywordType preserved
    assert idx[(101, "CHEMBL25")]["keywordType"] == "CD"


def test_embedding_vectors_evidence_end_to_end(outputs, spark):
    matches = outputs["matches"]
    model, training = embedding.run(
        spark, matches, Word2VecConfig(vector_size=8, num_partitions=1, seed=7)
    )
    # training set: one row per (pmid, rank-group) + one overall per pmid
    tr = training.collect()
    assert {len(r["terms"]) > 0 for r in tr} == {True}
    vocab = {r["word"] for r in model.getVectors().collect()}
    assert {"ENSG00000012048", "EFO_0000249", "CHEMBL25"} <= vocab

    vt = vectors_plan.run(model)
    vrows = {r["word"]: r for r in vt.collect()}
    assert vrows["ENSG00000012048"]["category"] == "target"
    assert vrows["CHEMBL25"]["category"] == "drug"
    assert vrows["EFO_0000249"]["category"] == "disease"
    assert all(r["norm"] > 0 for r in vrows.values())
    assert len(vrows["CHEMBL25"]["vector"]) == 8

    ev = evidence.run(spark, model, matches, outputs["cooccurrences"], conf=None)
    # with the default 0.01 threshold the tiny-corpus similarity may be
    # filtered; rerun unthresholded through the matches path directly
    ev_all = evidence.evidence_from_matches(
        evidence.model_vectors(model), matches, spark, threshold=-2.0
    )
    rows = ev_all.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["targetFromSourceId"] == "ENSG00000012048"
    assert r["diseaseFromSourceMappedId"] == "EFO_0000249"
    assert r["sharedPublicationCount"] == 2
    assert -1.0 <= r["similarity"] <= 1.0
    # harmonic over [sim, sim] = sim * (1 + 1/4)
    assert r["harmonicSimilarity"] == pytest.approx(r["similarity"] * 1.25)
    assert set(ev.columns) == set(evidence.MATCHES_FIELDS) | set(
        evidence.COOCS_FIELDS
    )


def test_evidence_from_coocs_values(outputs, spark):
    ev = evidence.evidence_from_coocs(outputs["cooccurrences"]).collect()
    assert len(ev) == 1
    r = ev[0]
    # scores 7.0, 9.0 → /10 → desc harmonic: 0.9 + 0.7/4
    assert r["harmonicCooccurrenceSentiment"] == pytest.approx(0.9 + 0.7 / 4)
    assert r["cooccurredPublicationCount"] == 2


def test_evidence_from_matches_known_vectors(outputs, spark):
    # deterministic vectors: identical → cosine exactly 1.0
    vecs = spark.createDataFrame(
        [("ENSG00000012048", [1.0, 0.0]), ("EFO_0000249", [1.0, 0.0]),
         ("CHEMBL25", [0.0, 1.0])],
        "word STRING, vector ARRAY<DOUBLE>",
    )
    ev = evidence.evidence_from_matches(
        vecs, outputs["matches"], spark, threshold=0.01
    ).collect()
    assert len(ev) == 1
    assert ev[0]["similarity"] == pytest.approx(1.0)
    assert ev[0]["resourceScore"] == pytest.approx(1.25)  # 2 shared pubs
    assert ev[0]["meanTargetFreqPerPub"] == pytest.approx(1.0)
    # DS appears twice in pub 101 (title+methods), once in pub 102
    assert ev[0]["meanDiseaseFreqPerPub"] == pytest.approx(1.5)


def test_replace_spaces_schema(spark):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("top level", T.StringType()),
            T.StructField(
                "nested",
                T.ArrayType(
                    T.StructType([T.StructField("inner field", T.LongType())])
                ),
            ),
        ]
    )
    df = spark.createDataFrame([("x", [(1,)])], schema)
    out = grounding.replace_spaces_schema(df)
    assert out.columns == ["top_level", "nested"]
    assert out.schema["nested"].dataType.elementType.fields[0].name == "inner_field"
    assert out.collect()[0]["nested"][0]["inner_field"] == 1

