"""Step-level contracts of the four-step pipeline, run through
``main.run_all`` on a small generated corpus (``perfbench/corpus.py``):
the output layout (zstd parquet, matches and co-occurrences clustered by
publication), the plan shapes that layout relies on, outputs that do not
depend on the shuffle layout, no persisted block left behind by a step,
the same outputs from one all-steps call as from single-step calls,
reproducible Word2Vec vectors, and the session's heap default."""

from __future__ import annotations

import re
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from platform_etl_literature_spark.main import STEPS, run_all
from platform_etl_literature_spark.plans import embedding, processing
from platform_etl_literature_spark.session import default_driver_memory
from platform_etl_literature_spark.sources import (
    IOResource,
    IOResourceConfig,
    read_from,
    write_to,
)

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "perfbench"))
import check  # noqa: E402
import corpus  # noqa: E402
import run as perfbench_run  # noqa: E402

SMALL = corpus.Params(
    pubs=80, diseases=30, targets=30, drugs=10, synonyms=3, zipf=0.5,
    name_share=0.5, sentences=3, mentions=4, unmatched=0.1, ambiguous=0.1,
    long_text=0.3,
)


def _inputs(root: Path) -> dict:
    return {n: {"format": c.format, "path": c.path, "options": c.options}
            for n, c in perfbench_run.io_configs(root).items()}


def _persisted(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory) -> Path:
    root = tmp_path_factory.mktemp("steps") / "in"
    corpus.generate(str(root), 11, SMALL)
    return root


@pytest.fixture(scope="module")
def steps_run(spark, corpus_dir):
    """Each step run on its own through run_all, as production deploys
    them; returns the output directory and the RDDs left persisted
    after each step that were not persisted before it."""
    out = corpus_dir.parent / "out"
    left = {}
    for step in STEPS:
        before = _persisted(spark)
        run_all(
            spark,
            {
                "inputs": _inputs(corpus_dir) if step == "processing" else {},
                "output": {"dir": str(out), "format": "parquet"},
            },
            [step],
        )
        left[step] = _persisted(spark) - before
    return out, left


def test_no_persisted_blocks_after_each_step(steps_run):
    _, left = steps_run
    assert left == {step: set() for step in STEPS}


def test_all_steps_in_one_call_match_single_step_calls(spark, corpus_dir, steps_run):
    """Steps hand off only through files, so one run_all over every step
    writes what the four single-step calls wrote."""
    single, _ = steps_run
    together = corpus_dir.parent / "together"
    run_all(
        spark,
        {"inputs": _inputs(corpus_dir), "output": {"dir": str(together), "format": "parquet"}},
        STEPS,
    )
    assert check.digest(str(together)) == check.digest(str(single))

    def evidence(out: Path) -> list[tuple]:
        return sorted(map(tuple, spark.read.parquet(str(out / "evidence")).collect()))

    rows = evidence(together)
    assert rows and rows == evidence(single)


def test_every_written_parquet_file_is_zstd(steps_run):
    out, _ = steps_run
    files = sorted(out.rglob("*.parquet"))
    written = {f.relative_to(out).parts[0] for f in files}
    assert written == set(check.PROCESSING_OUTPUTS) | set(check.DOWNSTREAM_OUTPUTS)
    for f in files:
        meta = pq.ParquetFile(f).metadata
        codecs = {
            meta.row_group(g).column(c).compression
            for g in range(meta.num_row_groups)
            for c in range(meta.num_columns)
        }
        assert codecs <= {"ZSTD"}, (f, codecs)


def test_compression_option_overrides_session_codec(spark, tmp_path):
    path = tmp_path / "snappy"
    write_to({"t": IOResource(
        spark.range(10), IOResourceConfig("parquet", str(path), {"compression": "snappy"})
    )})
    f = next(path.glob("*.parquet"))
    assert pq.ParquetFile(f).metadata.row_group(0).column(0).compression == "SNAPPY"


@pytest.mark.parametrize("name", ["matches", "cooccurrences"])
def test_publications_are_clustered_in_one_file(spark, steps_run, name):
    out, _ = steps_run
    files = sorted((out / name).glob("*.parquet"))
    pmids = [set(pq.read_table(f, columns=["pmid"]).column("pmid").to_pylist()) for f in files]
    if spark.sparkContext.defaultParallelism > 1:
        assert len(files) > 1
    assert sum(map(len, pmids)) == len(set().union(*pmids))


def test_processing_digest_independent_of_shuffle_partitions(spark, corpus_dir):
    """The same input gives the same outputs whatever the shuffle layout
    (the literature index's sentences JSON once followed row order).
    Coalescing is off, so that the small corpus really lands in 4 and 7
    partitions."""
    confs = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    old = {c: spark.conf.get(c) for c in confs}
    digests = []
    try:
        for n in (4, 7):
            spark.conf.set(confs[0], str(n))
            spark.conf.set(confs[1], "false")
            spark.catalog.clearCache()  # no reuse of the first run's matches
            out = corpus_dir.parent / f"shuffle{n}"
            run_all(
                spark,
                {"inputs": _inputs(corpus_dir), "output": {"dir": str(out), "format": "parquet"}},
                ["processing"],
            )
            digests.append(check.digest(str(out)))
    finally:
        for c, v in old.items():
            spark.conf.set(c, v)
    assert digests[0] == digests[1]
    assert digests[0]["literatureIndex"][0] > 0


# -- plan shapes ---------------------------------------------------------


def _exchanges(df, into_cache: bool) -> list[str]:
    """Partitionings of the hash exchanges in ``df``'s physical plan.  The
    plans inside cached relations are walked only when ``into_cache``."""
    todo, out = [df._jdf.queryExecution().executedPlan()], []
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            todo.append(node.plan())
            continue
        if name == "Exchange":
            out.append(node.outputPartitioning().toString())
        if name == "InMemoryTableScan" and into_cache:
            todo.append(node.relation().cachedPlan())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def _on_pmid(partitionings: list[str]) -> list[str]:
    return [p for p in partitionings if re.search(r"\bpmid#", p)]


@pytest.fixture()
def processed(spark, corpus_dir):
    src = {n: r.data for n, r in read_from(spark, perfbench_run.io_configs(corpus_dir)).items()}
    yield processing.run(
        spark, src["epmc"], src["epmcids"], src["targets"], src["diseases"], src["drugs"]
    )
    spark.catalog.clearCache()


def test_matches_plan_has_one_pmid_exchange(processed):
    got = _on_pmid(_exchanges(processed["matches"], into_cache=True))
    assert len(got) == 1 and "cast(pmid#" in got[0], got


def test_literature_index_has_no_exchange_above_cached_scan(processed):
    # run_all writes matches before the index, and a built cache reports
    # its partitioning (an unbuilt one reports none)
    processed["matches"].count()
    assert _exchanges(processed["literatureIndex"], into_cache=False) == []


@pytest.mark.parametrize("name", ["failedMatches", "failedCooccurrences"])
def test_failed_outputs_are_not_clustered(processed, name):
    assert _on_pmid(_exchanges(processed[name], into_cache=True)) == []


# -- embedding, session ----------------------------------------------------


def test_word2vec_default_fits_give_equal_vectors(spark, steps_run):
    out, _ = steps_run
    matches = spark.read.parquet(str(out / "matches"))
    fits = []
    for _ in range(2):
        model, training = embedding.run(spark, matches)
        fits.append({r["word"]: list(r["vector"]) for r in model.getVectors().collect()})
        training.unpersist()
    assert fits[0] and fits[0] == fits[1]


def test_default_driver_memory(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) / 1024
    got = default_driver_memory()
    assert got.endswith("m") and abs(int(got[:-1]) - total_mb / 2) <= 1
