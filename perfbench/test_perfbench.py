"""Self-tests of the benchmark: generator determinism, generated
intermediates against what processing writes, grounding keys against
``functions.text``, the traced processing pass against ``processing.run``,
and the correctness check failing on corrupted output.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import os
import shutil
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import check  # noqa: E402
import corpus  # noqa: E402
import run  # noqa: E402

TINY = corpus.Params(
    pubs=60, diseases=20, targets=20, drugs=8, synonyms=3, zipf=1.1, name_share=0.5,
    sentences=3, mentions=3, unmatched=0.1, ambiguous=0.1, long_text=0.3,
    hubs=1, hub_mentions=12, intermediates=True,
)


def _files(root: Path) -> list[str]:
    return sorted(str(p.relative_to(root)) for p in root.rglob("*") if p.is_file())


def test_same_seed_gives_identical_bytes(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    corpus.generate(str(a), 5, TINY)
    corpus.generate(str(b), 5, TINY)
    corpus.generate(str(c), 6, TINY)
    names = _files(a)
    assert names == _files(b)
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    assert filecmp.cmpfiles(a, c, names, shallow=False)[1]


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from platform_etl_literature_spark.session import build_session

    s = build_session("perfbench-selftest")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    """A tiny corpus run through all four steps (via files)."""
    from platform_etl_literature_spark.main import STEPS, run_all

    root = tmp_path_factory.mktemp("tiny")
    truth = corpus.generate(str(root / "in"), 9, TINY)
    inputs = {n: {"format": c.format, "path": c.path, "options": c.options}
              for n, c in run.io_configs(root / "in").items()}
    out = str(root / "out")
    for step in STEPS:
        run_all(spark, {"inputs": inputs if step == "processing" else {},
                        "output": {"dir": out, "format": "parquet"}}, [step])
    return root, out, truth


def test_grounding_keys_match_functions_text(spark):
    """The generator's keys equal the pipeline's for every planted label."""
    from platform_etl_literature_spark.functions.text import (
        LABEL_T, TOKEN_T, normalise_sentence, with_keys_column,
    )

    rng = corpus.random.Random(3)
    words = corpus._Words(rng)
    ents, ambiguous, unmatched = corpus._catalogue(TINY, words)
    labels = sorted({f for pool in ents.values() for e in pool for f in e.forms}
                    | {f for pl in ambiguous.values() for f, _ in pl}
                    | {f for fs in unmatched.values() for f in fs})
    rows = [(t, kt) for t in labels for kt in (LABEL_T, TOKEN_T)]
    df = spark.createDataFrame(rows, "text STRING, keyType STRING")
    keyed = with_keys_column(normalise_sentence(df, "text", "k"), "k", "key")
    got = {(r["text"], r["keyType"]): r["key"] for r in keyed.select("text", "keyType", "key").collect()}
    want = {(t, LABEL_T): corpus.label_key(t) for t in labels}
    want.update({(t, TOKEN_T): corpus.symbol_key(t) for t in labels})
    assert got == {k: v for k, v in want.items() if v}


def test_intermediates_match_processing_output(spark, pipeline):
    root, out, truth = pipeline
    for name in ("matches", "cooccurrences"):
        made = spark.read.parquet(f"{out}/{name}")
        generated = spark.read.parquet(str(root / "in" / "intermediate" / name))
        assert made.schema == generated.schema, name
        assert check.fields(made) == check.SCHEMAS[name]
        cols = [c for c in made.columns if c not in ("trace_source", "labelN", "labelN1", "labelN2")]
        assert made.select(cols).exceptAll(generated.select(cols)).isEmpty(), name
        assert generated.select(cols).exceptAll(made.select(cols)).isEmpty(), name


def test_traced_processing_matches_run_all(spark, pipeline):
    """The traced pass rebuilds processing layer by layer; its outputs
    must be the ones processing.run writes."""
    import tracing

    root, out, truth = pipeline
    traced = str(root / "traced")
    tracing.processing(tracing.Tracer(spark), spark, run.io_configs(root / "in"), traced)
    assert check.digest(traced) == check.digest(out)


def test_check_passes_then_fails_on_corruption(spark, pipeline):
    root, out, truth = pipeline
    counts = check.digest(out)
    assert check.check_processing(spark, out, truth, counts) == []
    assert check.check_downstream(out, truth) == []

    # drop one failed match and shift one co-occurrence count
    bad = root / "bad"
    shutil.copytree(out, bad)
    failed = pq.read_table(f"{out}/failedMatches")
    _rewrite(bad / "failedMatches", failed.slice(1))
    ev = pq.read_table(f"{out}/evidence")
    col = ev.column("cooccurredPublicationCount").to_pylist()
    col[0] += 1
    _rewrite(bad / "evidence", ev.set_column(
        ev.schema.get_field_index("cooccurredPublicationCount"),
        ev.schema.field("cooccurredPublicationCount"),
        corpus.pa.array(col, ev.schema.field("cooccurredPublicationCount").type)))

    errs = check.check_processing(spark, str(bad), truth, check.digest(str(bad)))
    assert any(e.startswith("failedMatches") for e in errs)
    assert any(e.startswith("evidence") for e in check.check_downstream(str(bad), truth))


def _rewrite(path: Path, table) -> None:
    for f in path.iterdir():
        f.unlink()
    pq.write_table(table, path / "part-00000.parquet")
