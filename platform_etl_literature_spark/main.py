"""CLI entry point: step dispatch by name, config-driven IO.

Re-expression of the reference's ``Main`` + ``ETLSessionContext``
(Main.scala:8-62, ETLSessionContext.scala:14-17): steps are named
``processing | embedding | vectors | evidence``; ``all`` runs them in
order.  As in the reference (SURVEY.md §0), steps hand off only through
files: each step reads what an earlier step wrote to the output
directory, whether it runs alone or under ``all``.

Config is a JSON file::

    {
      "inputs": {
        "epmc":     {"format": "json",    "path": "..."},
        "epmcids":  {"format": "csv",     "path": "...", "options": {"header": "true", "inferSchema": "true"}},
        "targets":  {"format": "parquet", "path": "..."},
        "diseases": {"format": "parquet", "path": "..."},
        "drugs":    {"format": "parquet", "path": "..."}
      },
      "output": {"dir": "/tmp/out", "format": "parquet"},
      "word2vec": {"vector_size": 100, "seed": 42},
      "evidence": {"threshold": 0.01}
    }
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from platform_etl_literature_spark.config import (
    EvidenceConfig,
    Word2VecConfig,
)
from platform_etl_literature_spark.plans import (
    embedding as embedding_plan,
)
from platform_etl_literature_spark.plans import (
    evidence as evidence_plan,
)
from platform_etl_literature_spark.plans import (
    processing as processing_plan,
)
from platform_etl_literature_spark.plans import (
    vectors as vectors_plan,
)
from platform_etl_literature_spark.session import build_session
from platform_etl_literature_spark.sources import (
    IOResource,
    IOResourceConfig,
    read_from,
    write_to,
)

STEPS = ["processing", "embedding", "vectors", "evidence"]


def _io_configs(cfg: dict) -> dict[str, IOResourceConfig]:
    return {
        name: IOResourceConfig(
            format=c["format"], path=c["path"], options=c.get("options", {})
        )
        for name, c in cfg.items()
    }


def _out(cfg: dict, name: str, df) -> dict[str, IOResource]:
    return {
        name: IOResource(
            df, IOResourceConfig(cfg["output"]["format"], f"{cfg['output']['dir']}/{name}")
        )
    }


def run_all(spark: SparkSession, cfg: dict, steps: list[str]) -> None:
    """Run ``steps`` in pipeline order, each writing its outputs to the
    output directory and reading its inputs from there (processing reads
    the configured inputs).

    What a step persists (grounding's mapped labels, the matches and
    co-occurrences, the Word2Vec training set) serves only its own
    writes, so the session's cache is cleared after each step: no
    persisted block outlives it.  A caller that shares the session loses
    its own cached frames too (they recompute on next use).
    """
    for step in STEPS:
        if step in steps:
            try:
                _STEP_RUNNERS[step](spark, cfg)
            finally:
                spark.catalog.clearCache()


def _load(spark: SparkSession, cfg: dict, name: str):
    return spark.read.format(cfg["output"]["format"]).load(f"{cfg['output']['dir']}/{name}")


def _load_model(cfg: dict):
    from pyspark.ml.feature import Word2VecModel

    return Word2VecModel.load(f"{cfg['output']['dir']}/w2v_model")


def _processing(spark: SparkSession, cfg: dict) -> None:
    src = read_from(spark, _io_configs(cfg["inputs"]))
    outputs = processing_plan.run(
        spark,
        *(src[n].data for n in ("epmc", "epmcids", "targets", "diseases", "drugs")),
    )
    for name, df in outputs.items():  # in order: matches before literatureIndex
        write_to(_out(cfg, name, df))


def _embedding(spark: SparkSession, cfg: dict) -> None:
    w2v = Word2VecConfig(**cfg.get("word2vec", {}))
    model, training = embedding_plan.run(spark, _load(spark, cfg, "matches"), w2v)
    write_to(_out(cfg, "trainingSet", training))
    model.write().overwrite().save(f"{cfg['output']['dir']}/w2v_model")


def _vectors(spark: SparkSession, cfg: dict) -> None:
    write_to(_out(cfg, "vectors", vectors_plan.run(_load_model(cfg))))


def _evidence(spark: SparkSession, cfg: dict) -> None:
    ev = evidence_plan.run(
        spark,
        _load_model(cfg),
        _load(spark, cfg, "matches"),
        _load(spark, cfg, "cooccurrences"),
        EvidenceConfig(**cfg.get("evidence", {})),
    )
    write_to(_out(cfg, "evidence", ev))


_STEP_RUNNERS = {
    "processing": _processing,
    "embedding": _embedding,
    "vectors": _vectors,
    "evidence": _evidence,
}


def run_curate(spark: SparkSession, cfg: dict) -> None:
    """Training-data curation over a ``documents`` input: per-document
    verdicts (quality, language, repetition — the same stateless policy
    the streaming ingest applies), exact-dedup winners, and two
    outputs: ``curated`` (surviving rows, full schema) and
    ``curation_report`` (one verdict row per input document)."""
    from platform_etl_literature_spark.operators.dedup import exact_dedup
    from platform_etl_literature_spark.operators.textstats import curation_flags

    ccfg = cfg.get("curate", {})
    id_col = ccfg.get("id_col", "doc_id")
    text_col = ccfg.get("text_col", "text")
    docs = read_from(spark, _io_configs(cfg["inputs"]))["documents"].data
    flags = curation_flags(
        docs,
        id_col,
        text_col,
        quality_min=ccfg.get("quality_min", 0.5),
        want_lang=ccfg.get("lang", "en"),
        rep_threshold=ccfg.get("rep_threshold", 0.3),
    )
    winners = exact_dedup(docs, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    kept_ids = (
        flags.filter(F.col("kept") == 1)
        .select(id_col)
        .join(winners, id_col, "left_semi")
    )
    curated = docs.join(kept_ids, id_col, "left_semi")
    out_fmt, out_dir = cfg["output"]["format"], cfg["output"]["dir"]
    write_to(
        {
            "curated": IOResource(
                curated, IOResourceConfig(out_fmt, f"{out_dir}/curated")
            ),
            "curation_report": IOResource(
                flags, IOResourceConfig(out_fmt, f"{out_dir}/curation_report")
            ),
        }
    )


def run_scrub(spark: SparkSession, cfg: dict) -> None:
    """Exact-substring dedup ACTION over a ``documents`` input: C4-style
    first-occurrence passage scrub (``dedup.scrub_dup_passages``).
    Writes ``scrubbed`` — every input row with its text rebuilt from the
    surviving passages plus (n_passages, n_kept) — ready to feed the
    curate/cluster steps downstream."""
    from platform_etl_literature_spark.operators.dedup import scrub_dup_passages

    scfg = cfg.get("scrub", {})
    id_col = scfg.get("id_col", "doc_id")
    text_col = scfg.get("text_col", "text")
    docs = read_from(spark, _io_configs(cfg["inputs"]))["documents"].data
    scrubbed = scrub_dup_passages(
        docs, id_col, text_col, window=scfg.get("window", 16)
    ).withColumnRenamed("id", id_col)
    out_fmt, out_dir = cfg["output"]["format"], cfg["output"]["dir"]
    write_to(
        {
            "scrubbed": IOResource(
                scrubbed, IOResourceConfig(out_fmt, f"{out_dir}/scrubbed")
            ),
        }
    )


def run_cluster(spark: SparkSession, cfg: dict) -> None:
    """Near-dup clustering over a ``documents`` input: banded-MinHash
    candidate pairs → connected components → survivor resolution.
    Writes ``clusters`` (component, cluster_size, member_ids) and
    ``survivors`` (every input row + component + is_survivor).  With
    ``score_col`` set, each cluster keeps its best-scored document
    (quality-aware policy); otherwise the minimum id survives."""
    from platform_etl_literature_spark.operators import components as CC
    from platform_etl_literature_spark.operators import dedup as D

    ccfg = cfg.get("cluster", {})
    id_col = ccfg.get("id_col", "doc_id")
    text_col = ccfg.get("text_col", "text")
    docs = read_from(spark, _io_configs(cfg["inputs"]))["documents"].data
    sigs = D.minhash_signatures(
        docs, id_col, text_col, shingle_n=ccfg.get("shingle_n", 2)
    )
    pairs = D.minhash_banded_pairs(
        sigs,
        band_size=ccfg.get("band_size", 2),
        min_matching_bands=ccfg.get("min_matching_bands", 1),
        max_bucket_size=ccfg.get("max_bucket_size"),
    )
    clusters = CC.dedup_clusters(pairs)
    score_col = ccfg.get("score_col")
    if score_col:
        survivors = CC.dedup_survivors_by(docs, pairs, id_col, score_col)
    else:
        survivors = CC.dedup_survivors(docs, pairs, id_col)
    out_fmt, out_dir = cfg["output"]["format"], cfg["output"]["dir"]
    write_to(
        {
            "clusters": IOResource(
                clusters, IOResourceConfig(out_fmt, f"{out_dir}/clusters")
            ),
            "survivors": IOResource(
                survivors, IOResourceConfig(out_fmt, f"{out_dir}/survivors")
            ),
        }
    )
    D.release_cached()


def run_split(spark: SparkSession, cfg: dict) -> None:
    """Leakage-safe train/val/test split over a ``documents`` input:
    banded-MinHash candidate pairs → connected components → whole
    clusters assigned to a split by component hash (near-duplicates
    can never straddle the train/eval boundary).  Config::

        "split": {"weights": {"train": 80, "val": 10, "test": 10},
                  "shingle_n": 2, "id_col": "doc_id", "text_col": "text"}

    Writes ``split`` — every input row + component + split label."""
    from platform_etl_literature_spark.operators import components as CC
    from platform_etl_literature_spark.operators import dedup as D

    scfg = cfg.get("split", {})
    id_col = scfg.get("id_col", "doc_id")
    docs = read_from(spark, _io_configs(cfg["inputs"]))["documents"].data
    sigs = D.minhash_signatures(
        docs, id_col, scfg.get("text_col", "text"),
        shingle_n=scfg.get("shingle_n", 2),
    )
    pairs = D.minhash_banded_pairs(
        sigs,
        band_size=scfg.get("band_size", 2),
        min_matching_bands=scfg.get("min_matching_bands", 1),
        max_bucket_size=scfg.get("max_bucket_size"),
    )
    weights = scfg.get("weights")
    if weights is not None:
        weights = {k: int(v) for k, v in weights.items()}
    assigned = CC.cluster_split(docs, pairs, id_col, weights=weights)
    write_to(_out(cfg, "split", assigned))
    D.release_cached()


def run_search(spark: SparkSession, cfg: dict) -> None:
    """BM25 keyword search over a ``documents`` input.  Config::

        "search": {"terms": ["spark", "vector"], "k": 20,
                   "id_col": "doc_id", "text_col": "text"}

    Writes ``search`` — the top-k (id, n_hits, score) hits."""
    from platform_etl_literature_spark.operators import dedup as D
    from platform_etl_literature_spark.operators.retrieval import bm25_topk

    scfg = cfg.get("search", {})
    docs = read_from(spark, _io_configs(cfg["inputs"]))["documents"].data
    hits = bm25_topk(
        docs,
        scfg.get("id_col", "doc_id"),
        scfg.get("text_col", "text"),
        scfg["terms"],
        k=scfg.get("k", 10),
        k1=scfg.get("k1", 1.2),
        b=scfg.get("b", 0.75),
    )
    write_to(_out(cfg, "search", hits))
    D.release_cached()


def run_score(spark: SparkSession, cfg: dict) -> None:
    """Model-based quality scoring over a ``documents`` input: the
    frozen logistic quality classifier + char-class entropy, plus —
    when ``ref_lang`` is set — cross-corpus LM perplexity against that
    language slice (CCNet proper).  Config::

        "score": {"id_col": "doc_id", "text_col": "text",
                  "threshold": 0.5, "ref_lang": "en", "lang_col": "lang"}

    Writes ``scores`` — one row per document: (id, n_tokens, z, prob,
    keep, entropy[, n_bigrams, avg_logp, ppl])."""
    from platform_etl_literature_spark.operators import dedup as D
    from platform_etl_literature_spark.operators import lm as LM
    from platform_etl_literature_spark.operators import textstats as TS

    scfg = cfg.get("score", {})
    id_col = scfg.get("id_col", "doc_id")
    text_col = scfg.get("text_col", "text")
    docs = read_from(spark, _io_configs(cfg["inputs"]))["documents"].data
    out = TS.quality_logreg(
        docs, id_col, text_col, threshold=scfg.get("threshold", 0.5)
    ).join(
        TS.char_class_entropy(docs, id_col, text_col).select(
            id_col, "entropy"
        ),
        id_col,
    )
    ref_lang = scfg.get("ref_lang")
    if ref_lang:
        lang_col = scfg.get("lang_col", "lang")
        ppl = (
            LM.lm_doc_logprob_against(
                docs.filter(F.col(lang_col) == ref_lang),
                docs,
                id_col,
                text_col,
            )
            .withColumnRenamed("id", id_col)
            .select(id_col, "n_bigrams", "avg_logp", "ppl")
        )
        out = out.join(ppl, id_col, "left")
    write_to(_out(cfg, "scores", out))
    D.release_cached()


def run_dq(spark: SparkSession, cfg: dict) -> None:
    """Declarative data-quality verification over any configured
    input table (operators.quality_checks).  Config::

        "dq": {"table": "documents",
               "checks": [{"check": "completeness", "column": "text",
                           "min_ratio": 1.0}, ...],
               "referential": [{"column": "o_custkey",
                                "dim_table": "customer",
                                "dim_column": "c_custkey"}],
               "fail_on_violation": false}

    Writes ``dq_report`` — (check, target, metric, threshold, passed);
    with ``fail_on_violation`` the step raises after writing if any
    check failed (the CI-gate mode)."""
    from platform_etl_literature_spark.operators import quality_checks as QC

    dcfg = cfg.get("dq", {})
    inputs = read_from(spark, _io_configs(cfg["inputs"]))
    df = inputs[dcfg.get("table", "documents")].data
    report = QC.verify(df, dcfg.get("checks", []))
    for ref in dcfg.get("referential", []):
        report = report.unionByName(
            QC.referential_integrity(
                df,
                ref["column"],
                inputs[ref["dim_table"]].data,
                ref["dim_column"],
                ref.get("min_ratio", 1.0),
            )
        )
    report = report.localCheckpoint(eager=True)  # evaluate once: write + gate
    write_to(_out(cfg, "dq_report", report))
    if dcfg.get("fail_on_violation"):
        # unknown counts as FAILED: a NULL `passed` (0/0 completeness on
        # an empty table, min/max over an all-NULL column) must trip the
        # gate, not vacuously pass through a NULL-dropping filter
        bad = [
            f"{r['check']}({r['target']}): {r['metric']} vs {r['threshold']}"
            for r in report.filter(
                ~F.coalesce(F.col("passed"), F.lit(False))
            ).collect()
        ]
        if bad:
            raise SystemExit("DQ violations: " + "; ".join(bad))


def run_layout(spark: SparkSession, cfg: dict) -> None:
    """Table-maintenance pass: cluster a table for file skipping and/or
    compact small files into target-sized ones.  Config::

        "layout": {"table": "orders",
                   "cluster": {"cols": ["o_custkey", "o_orderkey"],
                               "curve": "zorder",   # or "hilbert"
                               "n_files": 64, "bits": 8},
                   "compact": {"src_dir": "...", "dest_dir": "...",
                               "target_bytes": 134217728,
                               "cluster_col": "o_custkey"}}

    ``cluster`` writes the curve-ordered copy to the ``layout_out``
    output (one tight curve range per file — zone-map skipping per the
    measured hilbert_skip/zonemap_skip rows); ``compact`` runs
    :func:`operators.layout.execute_compaction` (_SUCCESS-gated,
    idempotent).  Either sub-step may be omitted."""
    from platform_etl_literature_spark.operators import layout as LAY

    lcfg = cfg.get("layout", {})
    ccfg = lcfg.get("cluster")
    if ccfg:
        inputs = read_from(spark, _io_configs(cfg["inputs"]))
        df = inputs[lcfg.get("table", "documents")].data
        out = LAY.optimize_layout(
            df,
            ccfg["cols"],
            n_files=ccfg.get("n_files", 64),
            bits=ccfg.get("bits", 8),
            curve=ccfg.get("curve", "zorder"),
        )
        write_to(_out(cfg, "layout_out", out))
    kcfg = lcfg.get("compact")
    if kcfg:
        res = LAY.execute_compaction(
            spark,
            kcfg["src_dir"],
            kcfg["dest_dir"],
            kcfg["target_bytes"],
            cluster_col=kcfg.get("cluster_col"),
        )
        print(f"layout.compact: {res}")


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(
        prog="platform-etl-literature-spark",
        description=(
            "PySpark literature ETL: processing | embedding | vectors | "
            "evidence | all; plus the training-data steps: curate, cluster, "
            "scrub, search, split, score, dq, layout"
        ),
    )
    p.add_argument(
        "steps",
        nargs="+",
        choices=STEPS
        + ["all", "curate", "cluster", "scrub", "search", "split", "score",
           "dq", "layout"],
    )
    p.add_argument("--config", required=True, help="JSON config file")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    with open(args.config) as fh:
        cfg = json.load(fh)
    spark = build_session("platform-etl-literature-spark", master=args.master)
    if "scrub" in args.steps:
        run_scrub(spark, cfg)
    if "curate" in args.steps:
        run_curate(spark, cfg)
    if "cluster" in args.steps:
        run_cluster(spark, cfg)
    if "search" in args.steps:
        run_search(spark, cfg)
    if "split" in args.steps:
        run_split(spark, cfg)
    if "score" in args.steps:
        run_score(spark, cfg)
    if "dq" in args.steps:
        run_dq(spark, cfg)
    if "layout" in args.steps:
        run_layout(spark, cfg)
    steps = STEPS if "all" in args.steps else [s for s in STEPS if s in args.steps]
    if steps:
        run_all(spark, cfg, steps)


if __name__ == "__main__":
    main()
