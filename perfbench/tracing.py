"""Traced pipeline pass: every layer timed from outside, one Spark job
group per span.

A span wraps calls into one layer's public functions and forces their
result (persist + count), so the layer's work happens inside the span and
the next layer starts from the materialised result.  Jobs run under the
innermost open span's job group, a name unique to the span and the run,
so a group never collects jobs of an earlier repetition.  After the span
closes its jobs, stages, tasks and failed tasks are read from
``SparkContext.statusTracker()``.  Spans stay in memory until
:meth:`Tracer.write`.

Where the program persists a result (the mapped labels, matches and
co-occurrences of ``processing.run``/``grounding.compute`` at DISK_ONLY,
the training set of ``embedding.run`` at the default level) the traced
pass persists it at the same level.  The other span boundaries (entity
LUT, sentences, literature index, vectors, the two evidence paths and
their join) are results the program streams straight into the next
operator; the traced pass materialises them at DISK_ONLY so each layer's
time lands in its own span.  The traced wall time minus the untraced one
is therefore traced-plan overhead: those extra materialisations plus the
status-tracker reads.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager

from pyspark.ml.feature import Word2VecModel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from platform_etl_literature_spark.config import EvidenceConfig, Word2VecConfig
from platform_etl_literature_spark.plans import embedding as E
from platform_etl_literature_spark.plans import evidence as EV
from platform_etl_literature_spark.plans import grounding as G
from platform_etl_literature_spark.plans import processing as P
from platform_etl_literature_spark.plans import vectors as V
from platform_etl_literature_spark.sources import IOResource, IOResourceConfig, read_from, write_to

import check

LAYERS = ["session", "sources.io", "grounding", "processing", "embedding", "vectors", "evidence"]
# counts each step function below returns
PROCESSING_STATS = ["lut_rows", "index_rows", "mentions", "distinct_labels", "mapped_ratio",
                    "disambiguation_drop", "label_reuse"]
EMBEDDING_STATS = ["sentences", "tokens", "vocab"]
EVIDENCE_STATS = ["pair_candidates", "pairs", "kept_ratio"]


class Tracer:
    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.run = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextmanager
    def span(self, layer: str, name: str, start: float | None = None):
        """``start`` back-dates the span (a span opened after the work
        it covers began)."""
        parent = self._open[-1] if self._open else None
        s = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "layer": layer,
            "name": name,
            "group": f"perfbench-{self.run}-{len(self.spans)}",
        }
        self.spans.append(s)
        self._open.append(s)
        self.sc.setJobGroup(s["group"], name)
        s["start"] = start if start is not None else time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._open.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            s.update(self._counters(s["group"]))

    def _counters(self, group: str) -> dict:
        jobs = self.status.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for j in jobs:
            info = self.status.getJobInfo(j)
            for sid in info.stageIds if info else []:
                st = self.status.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def finish(self) -> None:
        """Durations and self times (duration minus the part of the span
        covered by its children)."""
        for s in self.spans:
            s["dur"] = s["end"] - s["start"]
            kids = [c for c in self.spans if c["parent"] == s["id"]]
            s["self"] = s["dur"] - sum(c["end"] - c["start"] for c in kids)

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": self.spans}, fh, indent=1, default=str)


def materialise(df: DataFrame, level: StorageLevel | None = StorageLevel.DISK_ONLY
                ) -> tuple[DataFrame, int]:
    """Persist at ``level`` (None: DataFrame.persist's default) and count."""
    df = df.persist() if level is None else df.persist(level)
    return df, df.count()


def _write(tr: Tracer, outputs: dict[str, DataFrame], out_dir: str) -> None:
    with tr.span("sources.io", "write") as s:
        write_to({
            n: IOResource(df, IOResourceConfig("parquet", f"{out_dir}/{n}"))
            for n, df in outputs.items()
        })
    s["bytes"], s["files"] = map(sum, zip(*(check.dir_bytes(f"{out_dir}/{n}") for n in outputs)))


def processing(
    tr: Tracer, spark: SparkSession, inputs_cfg: dict[str, IOResourceConfig], out_dir: str
) -> dict:
    """processing.run, layer by layer; returns per-layer counts."""
    stats = {}
    with tr.span("step", "processing"):
        with tr.span("sources.io", "read"):
            src = {k: r.data for k, r in read_from(spark, inputs_cfg).items()}
        with tr.span("grounding", "lut"):
            lut, stats["lut_rows"] = materialise(
                G.load_entity_lut(src["targets"], src["diseases"], src["drugs"]))
        with tr.span("grounding", "load"):
            sentences, _ = materialise(G.filter_entities(G.load_entities(
                G.replace_spaces_schema(src["epmc"]), G.load_epmc_ids(src["epmcids"]))))
        with tr.span("grounding", "map"):
            mapped, _ = materialise(G.map_entities(sentences, F.broadcast(lut)))
        with tr.span("grounding", "resolve"):
            g = G.resolve_entities(sentences, mapped)
            # processing.run persists these two; the failed rows stream into the write
            matched, n_matched = materialise(g["matches"])
            coocs, _ = materialise(g["cooccurrences"])
        with tr.span("processing", "index"):
            matches = P.filter_matches(matched)
            index, stats["index_rows"] = materialise(P.literature_index(matches, spark))
        _write(tr, {
            "failedMatches": g["matchesFailed"],
            "failedCooccurrences": g["cooccurrencesFailed"],
            "matches": matches,
            "cooccurrences": P.filter_cooccurrences(coocs),
            "literatureIndex": index,
        }, out_dir)

    # counts for the ratios, outside the step span
    labels = sentences.select(F.explode("matches").alias("m")).select("m.type", "m.label")
    stats["mentions"] = labels.count()
    stats["distinct_labels"] = labels.distinct().count()
    failed = spark.read.parquet(f"{out_dir}/failedMatches").count()
    mapped_rows = labels.join(mapped.select(F.col("type"), F.col("label")), ["type", "label"]).count()
    stats["mapped_ratio"] = (stats["mentions"] - failed) / max(1, stats["mentions"])
    stats["disambiguation_drop"] = mapped_rows - n_matched
    stats["label_reuse"] = stats["mentions"] / max(1, stats["distinct_labels"])
    for df in (lut, sentences, mapped, matched, coocs, index):
        df.unpersist()
    return stats


def embedding(tr: Tracer, spark: SparkSession, out_dir: str) -> dict:
    stats = {}
    with tr.span("step", "embedding"):
        with tr.span("sources.io", "read"):
            matches = spark.read.format("parquet").load(f"{out_dir}/matches")
        with tr.span("embedding", "regroup"):
            training, stats["sentences"] = materialise(
                E.regroup_matches(E.filter_matches_for_embedding(matches), spark), level=None)
        with tr.span("embedding", "fit"):
            model = E.make_word2vec_model(training, Word2VecConfig())
        _write(tr, {"trainingSet": training}, out_dir)
        with tr.span("sources.io", "write") as s:
            model.write().overwrite().save(f"{out_dir}/w2v_model")
        s["bytes"], s["files"] = check.dir_bytes(f"{out_dir}/w2v_model")
    stats["tokens"] = training.select(F.sum(F.size("terms"))).first()[0]
    stats["vocab"] = model.getVectors().count()
    training.unpersist()
    return stats


def vectors(tr: Tracer, spark: SparkSession, out_dir: str) -> dict:
    with tr.span("step", "vectors"):
        with tr.span("sources.io", "read"):
            model = Word2VecModel.load(f"{out_dir}/w2v_model")
        with tr.span("vectors", "compute"):
            vec, rows = materialise(V.run(model))
        _write(tr, {"vectors": vec}, out_dir)
    vec.unpersist()
    return {"rows": rows}


def evidence(tr: Tracer, spark: SparkSession, out_dir: str) -> dict:
    stats = {}
    conf = EvidenceConfig()
    with tr.span("step", "evidence"):
        with tr.span("sources.io", "read"):
            model = Word2VecModel.load(f"{out_dir}/w2v_model")
            matches = spark.read.format("parquet").load(f"{out_dir}/matches")
            coocs = spark.read.format("parquet").load(f"{out_dir}/cooccurrences")
        with tr.span("evidence", "matches_path"):
            ev_m, kept = materialise(
                EV.evidence_from_matches(EV.model_vectors(model), matches, spark, conf.threshold))
        with tr.span("evidence", "coocs_path"):
            ev_c, _ = materialise(EV.evidence_from_coocs(coocs))
        with tr.span("evidence", "join"):
            ev, _ = materialise(ev_m.join(ev_c, check.PAIR, "left_outer").na.fill(0.0))
        _write(tr, {"evidence": ev}, out_dir)

    # DS x GP rows of the self-join and the distinct pairs they form
    per_pub = (
        matches.filter("isMapped")
        .join(F.broadcast(P.section_rank_table(spark)), ["section"])
        .select("pmid", "type", "keywordId").distinct()
    )
    ds = per_pub.filter("type = 'DS'").selectExpr("pmid", "keywordId AS d")
    gp = per_pub.filter("type = 'GP'").selectExpr("pmid", "keywordId AS t")
    cand = ds.join(gp, "pmid")
    stats["pair_candidates"] = cand.count()
    stats["pairs"] = cand.select("t", "d").distinct().count()
    stats["kept_ratio"] = kept / max(1, stats["pairs"])
    for df in (ev_m, ev_c, ev):
        df.unpersist()
    return stats
