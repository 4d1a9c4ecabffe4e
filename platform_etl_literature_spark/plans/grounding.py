"""Grounding: match EPMC NER mentions against Open Targets entity LUTs.

Re-expression of the reference's ``Grounding`` step
(Grounding.scala:563-610 and helpers) as an idiomatic PySpark plan:

* entity LUT build: per-entity synonym explosion → normalization →
  key-gen → 3-way unionByName → windowed ambiguity count
  (transformDiseases :389-429, transformTargets :431-487,
  transformDrugs :489-516, loadEntityLUT :518-554),
* pmid/pmcid repair via anti + outer joins (loadEntities :314-350),
* label grounding with dense_rank top-1 (mapEntities :160-206),
* two-level windowed-min disambiguation and nested-struct rebuild
  (disambiguate :111-142, resolveEntities :208-312).

Scale design: the LUT is broadcast (small dimension vs the corpus);
every explode/normalize stage is map-side; the only shuffles are the
grounding joins' build side exchange (none — broadcast), the window
partitions in disambiguation (keyed by (pmid,pmcid,type,keyword) — high
cardinality, no skew hot key), the final dedups, and one exchange per
valid stream that clusters it by publication for the writes (DESIGN.md,
"Output layout").  The
nested-field-space rename is pure-plan (positional struct cast), NOT an
RDD round-trip as in the reference (Helpers.scala:166-175), so parquet
pushdown and column pruning survive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from platform_etl_literature_spark.functions.text import (
    LABEL_T,
    TOKEN_T,
    normalise_sentence,
    normalise_sql,
    with_keys_column,
)


# ---------------------------------------------------------------------------
# schema utilities
# ---------------------------------------------------------------------------


def _rename_spaces(dt: T.DataType) -> T.DataType:
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(
                    f.name.replace(" ", "_"), _rename_spaces(f.dataType), f.nullable
                )
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_rename_spaces(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _rename_spaces(dt.keyType), _rename_spaces(dt.valueType), dt.valueContainsNull
        )
    return dt


def replace_spaces_schema(df: DataFrame) -> DataFrame:
    """Rewrite every (nested) field name containing spaces to use '_'.

    Capability of ``Helpers.replaceSpacesSchema`` (Helpers.scala:166-175)
    without the RDD round-trip: a positional struct cast keeps the plan
    columnar and pushdown-friendly.
    """
    out = []
    for f in df.schema.fields:
        new_dt = _rename_spaces(f.dataType)
        col = F.col(f"`{f.name}`")
        if new_dt != f.dataType:
            col = col.cast(new_dt)
        out.append(col.alias(f.name.replace(" ", "_")))
    return df.select(*out)


# ---------------------------------------------------------------------------
# LUT build
# ---------------------------------------------------------------------------


def _clean_and_score_sql(c: str, score: float, key_type: str) -> str:
    """Wrap a synonym array into (key, factor, keyType) structs
    (Grounding.cleanAndScoreArrayColumn:362-365), as a staged SQL
    fragment (round 10): the same transform(...) expression rendered
    as one parse-once string — each Python-lambda HOF build costs
    ~25 ms of py4j round trips, and the LUT builders stacked 18 of
    them (guide §7.3: driver-side plan construction is real wall
    time).  ``score`` is rendered as an explicit DOUBLE cast (a bare
    0.999 literal would parse as DECIMAL)."""
    return (
        f"transform(coalesce({c}, array()), _x -> named_struct("
        f"'key', _x, 'factor', CAST({score!r} AS DOUBLE), "
        f"'keyType', '{key_type}'))"
    )


def _explode_variants(df: DataFrame, variant_frags: list[str], distinct: bool) -> DataFrame:
    """Explode the per-entity variant arrays into (keywordId, text,
    factor, keyType) rows.  ``variant_frags`` are SQL fragments (one
    staged parse, round 10 — see :func:`_clean_and_score_sql`)."""
    arr = f"flatten(array({', '.join(variant_frags)}))"
    if distinct:
        arr = f"filter(array_distinct({arr}), _c -> length(_c.key) > 0)"
    return (
        df.select("keywordId", F.explode(F.expr(arr)).alias("_text"))
        .selectExpr(
            "keywordId",
            "_text.key AS text",
            "_text.factor AS factor",
            "_text.keyType AS keyType",
        )
        .where("text IS NOT NULL AND length(text) > 0")
    )


def _normalise_and_key(df: DataFrame, prefix: str) -> DataFrame:
    return with_keys_column(normalise_sentence(df, "text", prefix), prefix, "key")


def transform_diseases(diseases: DataFrame) -> DataFrame:
    """Disease LUT variants (Grounding.transformDiseases:389-429):
    name=1.0, exact=0.999, narrow=0.998, broad=0.997, related=0.996 —
    all label-type keys."""
    d = diseases.selectExpr("id as keywordId", "name", "synonyms.*")
    variants = _explode_variants(
        d,
        [
            _clean_and_score_sql("array(name)", 1.0, LABEL_T),
            _clean_and_score_sql("hasBroadSynonym", 0.997, LABEL_T),
            _clean_and_score_sql("hasExactSynonym", 0.999, LABEL_T),
            _clean_and_score_sql("hasNarrowSynonym", 0.998, LABEL_T),
            _clean_and_score_sql("hasRelatedSynonym", 0.996, LABEL_T),
        ],
        distinct=False,
    )
    return _normalise_and_key(variants, "efoTerms")


def transform_targets(targets: DataFrame) -> DataFrame:
    """Target LUT variants (Grounding.transformTargets:431-487): name
    (label 1.0), symbol (token 1.0), synonyms 0.999, obsolete 0.998,
    protein accessions (token 0.999)."""
    t = targets.selectExpr(
        "id AS keywordId",
        "approvedName AS name",
        "approvedSymbol AS symbol",
        "symbolSynonyms.label AS symbolSynonyms",
        "nameSynonyms.label AS nameSynonyms",
        "obsoleteSymbols.label AS obsoleteSymbols",
        "obsoleteNames.label AS obsoleteNames",
        "array_distinct(coalesce(proteinIds.id,"
        " CAST(array() AS ARRAY<STRING>))) AS accessions",
    )
    variants = _explode_variants(
        t,
        [
            _clean_and_score_sql("array(name)", 1.0, LABEL_T),
            _clean_and_score_sql("array(symbol)", 1.0, TOKEN_T),
            _clean_and_score_sql("nameSynonyms", 0.999, LABEL_T),
            _clean_and_score_sql("symbolSynonyms", 0.999, TOKEN_T),
            _clean_and_score_sql("obsoleteNames", 0.998, LABEL_T),
            _clean_and_score_sql("obsoleteSymbols", 0.998, TOKEN_T),
            _clean_and_score_sql("accessions", 0.999, TOKEN_T),
        ],
        distinct=True,
    )
    return _normalise_and_key(variants, "targetTerms")


def transform_drugs(drugs: DataFrame) -> DataFrame:
    """Drug LUT variants (Grounding.transformDrugs:489-516): name and
    synonyms under BOTH key types."""
    d = drugs.selectExpr("id as keywordId", "name", "tradeNames", "synonyms")
    variants = _explode_variants(
        d,
        [
            _clean_and_score_sql("array(name)", 1.0, LABEL_T),
            _clean_and_score_sql("array(name)", 1.0, TOKEN_T),
            _clean_and_score_sql("tradeNames", 0.999, LABEL_T),
            _clean_and_score_sql("tradeNames", 0.999, TOKEN_T),
            _clean_and_score_sql("synonyms", 0.999, LABEL_T),
            _clean_and_score_sql("synonyms", 0.999, TOKEN_T),
        ],
        distinct=False,
    )
    return _normalise_and_key(variants, "drugTerms")


def load_entity_lut(
    targets: DataFrame, diseases: DataFrame, drugs: DataFrame
) -> DataFrame:
    """3-way union of entity LUTs + ambiguity count per (type, labelN)
    (Grounding.loadEntityLUT:518-554).  The result is small relative to
    the corpus and is broadcast by the caller."""
    cols = ["key as labelN", "type", "keywordId", "factor"]
    ds = transform_diseases(diseases).withColumn("type", F.lit("DS")).selectExpr(*cols)
    gp = transform_targets(targets).withColumn("type", F.lit("GP")).selectExpr(*cols)
    cd = transform_drugs(drugs).withColumn("type", F.lit("CD")).selectExpr(*cols)
    # One shuffle instead of two (the reference's distinct() + windowed
    # approx_count_distinct, Grounding.scala:547-550, shuffles the full
    # row once on all columns and again on (type, labelN)): collect the
    # per-label entry set in a single (type, labelN) aggregation, derive
    # the ambiguity count exactly (sorted sets keep it deterministic —
    # and at rsd=0.01 the reference's HLL is exact at these per-label
    # cardinalities anyway), and re-explode.  Per-label entry arrays are
    # bounded by label ambiguity, not corpus size.
    return (
        ds.unionByName(gp)
        .unionByName(cd)
        .groupBy("type", "labelN")
        .agg(
            F.array_sort(
                F.array_distinct(F.collect_list(F.struct("keywordId", "factor")))
            ).alias("_entries")
        )
        .withColumn(
            "uniqueKeywordIdsPerLabelN",
            F.expr(
                "CAST(size(array_distinct("
                "transform(_entries, _e -> _e.keywordId))) AS BIGINT)"
            ),
        )
        .withColumn("_e", F.explode("_entries"))
        .select(
            "labelN",
            "type",
            F.col("_e.keywordId").alias("keywordId"),
            F.col("_e.factor").alias("factor"),
            "uniqueKeywordIdsPerLabelN",
        )
    )


def load_epmc_ids(df: DataFrame) -> DataFrame:
    """PMID↔PMCID lookup (Grounding.loadEPMCIDs:556-561).

    PMID is cast to string: the corpus pmid column is string, and under
    ANSI type coercion (Spark ≥4 default) ``coalesce(string, bigint)``
    would otherwise flip the repaired pmid column to bigint.
    """
    return (
        df.selectExpr("cast(PMID as string) as pmid_lut", "PMCID as pmcid_lut")
        .filter(
            F.col("pmcid_lut").isNotNull()
            & F.col("pmid_lut").isNotNull()
            & F.col("pmcid_lut").startswith("PMC")
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# corpus load + id repair
# ---------------------------------------------------------------------------


def load_entities(
    df: DataFrame, epmcids: DataFrame, trace_source: bool = True
) -> DataFrame:
    """Sentinel null-out, pmid repair via anti/outer joins, date split,
    sentence explode (Grounding.loadEntities:314-350).  The reference's
    ``failed_*`` diagnostic flags are not built: its filterEntities
    drops them before any output reads them.

    ``trace_source=False`` for derived (multi-source) corpora:
    ``input_file_name()`` resolves only over single-source plans.
    """
    e_ids = F.broadcast(epmcids)
    pm_ids = F.broadcast(epmcids)

    # Each projection is one parse-once selectExpr: in-place
    # replacements keep their position, new columns append; joins stay
    # DataFrame API.
    def null_out(c: str) -> str:
        # _null_out_sentinels as SQL: NULL unless non-empty and not "0"
        return (
            f"CASE WHEN {c} IS NOT NULL AND {c} != '' AND {c} != '0'"
            f" THEN {c} END AS {c}"
        )

    l1 = [
        null_out(c) if c in ("pmid", "pmcid") else f"`{c}`"
        for c in df.columns
    ] + [("input_file_name()" if trace_source else "''") + " AS trace_source"]
    joined = (
        df.selectExpr(*l1)
        # drop rows whose pmid is a known id but pmcid is missing
        .join(
            pm_ids,
            (F.col("pmid_lut") == F.col("pmid")) & F.col("pmcid").isNull(),
            "left_anti",
        )
        # recover pmid from pmcid
        .join(e_ids, F.col("pmcid") == F.col("pmcid_lut"), "left_outer")
    )
    kept = [c for c in joined.columns if c not in ("pmid_lut", "pmcid_lut")]
    repaired = (
        joined.selectExpr(
            *[
                "coalesce(pmid, pmid_lut) AS pmid" if c == "pmid" else f"`{c}`"
                for c in kept
            ]
        )
        .selectExpr(
            "*",
            "CASE WHEN pubDate IS NOT NULL AND pubDate != ''"
            " THEN CAST(pubDate AS DATE) END AS date",
        )
        .selectExpr(
            "*",
            "CASE WHEN date IS NOT NULL THEN year(date) END AS year",
            "CASE WHEN date IS NOT NULL THEN month(date) END AS month",
            "CASE WHEN date IS NOT NULL THEN dayofmonth(date) END AS day",
        )
    )
    base = [c for c in repaired.columns if c != "sentences"]
    exploded = repaired.select(
        *base, F.explode("sentences").alias("sentence")
    ).select(*base, "sentence.*")
    return exploded.selectExpr(
        *[
            "lower(section) AS section" if c == "section" else f"`{c}`"
            for c in exploded.columns
        ]
    )


def filter_entities(df: DataFrame) -> DataFrame:
    """Keep resolvable rows (Grounding.filterEntities:352-360)."""
    return df.filter(F.col("pmid").isNotNull()).filter(F.col("section").isNotNull())


# ---------------------------------------------------------------------------
# grounding + disambiguation
# ---------------------------------------------------------------------------


def map_entities(entities: DataFrame, luts: DataFrame) -> DataFrame:
    """Ground NER labels: normalize each mention label under its
    key-type variants, join the LUT, keep dense_rank-1 candidates
    (Grounding.mapEntities:160-206)."""
    # The produced mapping depends ONLY on (type, label) — the mention
    # stream is deduplicated to distinct (type, label) pairs BEFORE the
    # normalization pipeline runs, so the Porter-stemmer UDF and key-gen
    # process each distinct surface form once instead of once per
    # mention.  (The reference normalizes the full mention stream and
    # dedups at the end, Grounding.scala:167-203 — same result, ~|mentions|
    # / |distinct labels| times the work.)
    # key-type variant fan-out, staged as one SQL fragment (round 10
    # expression staging — same struct tree, parsed JVM-side in one)
    text_v = (
        "CASE"
        f" WHEN type = 'DS' THEN array("
        f"struct(nLabel AS keyValue, '{LABEL_T}' AS keyType))"
        f" WHEN type IN ('GP', 'CD') THEN array("
        f"struct(nLabel AS keyValue, '{LABEL_T}' AS keyType), "
        f"struct(nLabel AS keyValue, '{TOKEN_T}' AS keyType))"
        " END"
    )
    labels = (
        entities.select(F.explode("matches").alias("match"))
        .selectExpr("match.type AS type", "match.label AS label")
        .dropDuplicates(["type", "label"])
        .selectExpr("*", f"{normalise_sql('label')} AS nLabel")
        .selectExpr("*", f"explode({text_v}) AS _textV")
        .selectExpr("*", "_textV.keyValue AS text", "_textV.keyType AS keyType")
    )
    keyed = with_keys_column(
        normalise_sentence(labels, "text", "nerTerms"), "nerTerms", "labelN"
    )
    w = Window.partitionBy("type", "labelN").orderBy(F.col("factor").desc())
    out_cols = sorted(
        {"type", "label", "labelN", "keywordId"} | set(luts.columns) - {"factor"}
    )
    return (
        keyed.join(luts, ["type", "labelN"], "left_outer")
        .withColumn("isMapped", F.col("keywordId").isNotNull())
        .filter(F.col("isMapped"))
        .withColumn("rank", F.dense_rank().over(w))
        .filter(F.col("rank") == 1)
        .select(*out_cols)
        .dropDuplicates(["type", "label", "keywordId"])
    )


def disambiguate(
    df: DataFrame,
    keyword_col: str,
    label_counts_col: str,
    type_col: str = "type",
) -> DataFrame:
    """Two-level windowed-min ambiguity filter: keep keywords whose
    per-publication ambiguity is ≤ the keyword's global minimum
    (Grounding.disambiguate:111-142)."""
    per_pub = Window.partitionBy("pmid", "pmcid", type_col, keyword_col)
    overall = Window.partitionBy(type_col, keyword_col)
    min_pub = "_min_ambiguity_per_pub"
    min_all = "_min_ambiguity_overall"
    # ONE exchange for both windows (guide §2.4): hash-partitioning by
    # the COARSER (type, keyword) key clusters the finer per-publication
    # window's groups too, so EnsureRequirements satisfies both window
    # distributions from this single shuffle (the finer window adds only
    # a local sort).  Without it the plan paid two full exchanges of the
    # mention stream back to back — hash(pmid, pmcid, type, kw) then
    # hash(type, kw) (plans/r10/evidence_pipeline_before.txt).  Skew
    # exposure is unchanged: the second exchange already grouped by
    # (type, kw), so a hot keyword concentrated identically before.
    # Both windows in ONE select (round 10): min is associative, so
    # min(min-per-pub) over (type, kw) == min(label_counts) over
    # (type, kw) — every row belongs to exactly one publication.  The
    # fused form drops a driver-side analyzer pass per call and lets
    # both Window nodes hang off the same child.
    return (
        df.repartition(type_col, keyword_col)
        .select(
            "*",
            F.min(label_counts_col).over(per_pub).alias(min_pub),
            F.min(label_counts_col).over(overall).alias(min_all),
        )
        .filter(F.col(min_pub) <= F.col(min_all))
        .drop(min_pub, min_all)
    )


_BASE_COLS = [
    "pmid",
    "pmcid",
    "pubDate",
    "date",
    "year",
    "month",
    "day",
    "organisms",
    "section",
    "text",
    "trace_source",
]


def resolve_entities(
    entities: DataFrame, mapped_labels: DataFrame
) -> dict[str, DataFrame]:
    """Attach grounded keywordIds to matches and co-occurrences,
    disambiguate, rebuild the nested output structs
    (Grounding.resolveEntities:208-312)."""
    # Projections are staged as SQL strings parsed JVM-side (the
    # round-10 expression-staging policy — same values, same schema,
    # one driver round trip per select instead of one per
    # F.col/alias); joins/filters stay DataFrame API.
    mcols = [c for c in entities.columns if c != "matches"]
    merged_matches = (
        entities.select(*mcols, F.explode("matches").alias("match"))
        .select(*mcols, "match.*")
        .join(F.broadcast(mapped_labels), ["type", "label"], "left_outer")
        .selectExpr("*", "keywordId IS NOT NULL AS isMapped")
    )

    # The disambiguated streams leave disambiguate() hash-partitioned by
    # (type, keyword), so every output file would hold a scatter of
    # publications, each repeating its sentence text, dates and ids.
    # One more exchange clusters them by publication, which the
    # compressed files repay (DESIGN.md, "Output layout"); the literature
    # index casts pmid the same way and runs on this partitioning with
    # no exchange of its own.  So a non-numeric pmid fails its ANSI cast
    # here, at the matches write.
    valid_matches = (
        merged_matches.filter(F.col("isMapped"))
        .transform(lambda d: disambiguate(d, "keywordId", "uniqueKeywordIdsPerLabelN"))
        .selectExpr(
            *_BASE_COLS,
            "struct(endInSentence, label, labelN, sectionEnd, sectionStart,"
            " startInSentence, type, keywordId, isMapped) AS match",
        )
        .repartition(F.expr("CAST(pmid AS BIGINT)"))
    )

    ml1 = mapped_labels.selectExpr(
        "type AS _t1",
        "label AS _l1",
        "labelN AS labelN1",
        "keywordId AS keywordId1",
        "uniqueKeywordIdsPerLabelN AS uniqueKeywordIdsPerLabelN1",
    )
    ml2 = mapped_labels.selectExpr(
        "type AS _t2",
        "label AS _l2",
        "labelN AS labelN2",
        "keywordId AS keywordId2",
        "uniqueKeywordIdsPerLabelN AS uniqueKeywordIdsPerLabelN2",
    )

    ccols = [c for c in entities.columns if c != "co-occurrence"]
    merged_cooc = (
        entities.select(*ccols, F.explode("co-occurrence").alias("cooc"))
        .select(*ccols, "cooc.*")
        .selectExpr(
            "*",
            "substring_index(type, '-', 1) AS type1",
            "substring_index(type, '-', -1) AS type2",
        )
        .drop("type")
        .join(
            F.broadcast(ml1),
            (F.col("type1") == F.col("_t1")) & (F.col("label1") == F.col("_l1")),
            "left_outer",
        )
        .drop("_t1", "_l1")
        .join(
            F.broadcast(ml2),
            (F.col("type2") == F.col("_t2")) & (F.col("label2") == F.col("_l2")),
            "left_outer",
        )
        .drop("_t2", "_l2")
        .selectExpr(
            "*",
            "keywordId1 IS NOT NULL AND keywordId2 IS NOT NULL AS isMapped",
        )
    )

    valid_cooc = (
        merged_cooc.filter(F.col("isMapped"))
        .transform(
            lambda d: disambiguate(d, "keywordId1", "uniqueKeywordIdsPerLabelN1", "type1")
        )
        .transform(
            lambda d: disambiguate(d, "keywordId2", "uniqueKeywordIdsPerLabelN2", "type2")
        )
        .selectExpr(
            *_BASE_COLS,
            "struct(end1, end2, sentEvidenceScore AS evidence_score,"
            " label1, labelN1, keywordId1, label2, labelN2, keywordId2,"
            " start1, start2, concat_ws('-', type1, type2) AS type,"
            " type1, type2, isMapped) AS `co-occurrence`",
        )
        .repartition("pmid")
    )

    return {
        "matchesFailed": merged_matches.filter(~F.col("isMapped")),
        "matches": valid_matches,
        "cooccurrencesFailed": merged_cooc.filter(~F.col("isMapped")),
        "cooccurrences": valid_cooc,
    }


def compute(
    epmc: DataFrame,
    epmcids: DataFrame,
    targets: DataFrame,
    diseases: DataFrame,
    drugs: DataFrame,
    trace_source: bool = True,
) -> dict[str, DataFrame]:
    """Full grounding step (Grounding.compute:563-610)."""
    id_lut = load_epmc_ids(epmcids)
    luts = F.broadcast(load_entity_lut(targets, diseases, drugs))
    sentences = filter_entities(
        load_entities(replace_spaces_schema(epmc), id_lut, trace_source)
    )
    # DISK_ONLY like the reference (Grounding.scala:603): the mapping is
    # reused by matches + cooccurrences resolution and must not compete
    # with execution memory
    from pyspark.storagelevel import StorageLevel

    mapped_labels = map_entities(sentences, luts).persist(StorageLevel.DISK_ONLY)
    return resolve_entities(sentences, mapped_labels)
