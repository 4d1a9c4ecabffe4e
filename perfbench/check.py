"""Output checks: schemas, ground truth from the generator, digests.

Each check returns a list of failure messages; an empty list passes.
Contents are read with pyarrow and only schemas with Spark, so checking
runs no Spark job.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from platform_etl_literature_spark.plans import evidence as evidence_plan
from platform_etl_literature_spark.plans import vectors as vectors_plan

PROCESSING_OUTPUTS = [
    "failedMatches",
    "failedCooccurrences",
    "matches",
    "cooccurrences",
    "literatureIndex",
]
DOWNSTREAM_OUTPUTS = ["trainingSet", "w2v_model", "vectors", "evidence"]

_BASE = [
    ("pmid", "string"), ("pmcid", "string"), ("pubDate", "string"), ("date", "date"),
    ("year", "int"), ("month", "int"), ("day", "int"),
    ("organisms", "array<string>"), ("section", "string"), ("text", "string"),
    ("trace_source", "string"),
]
# FIXTURES.md §6 and §7
SCHEMAS = {
    "matches": _BASE + [
        ("endInSentence", "bigint"), ("label", "string"), ("labelN", "string"),
        ("sectionEnd", "bigint"), ("sectionStart", "bigint"),
        ("startInSentence", "bigint"), ("type", "string"), ("keywordId", "string"),
        ("isMapped", "boolean"),
    ],
    "cooccurrences": _BASE + [
        ("end1", "bigint"), ("end2", "bigint"), ("evidence_score", "double"),
        ("label1", "string"), ("labelN1", "string"), ("keywordId1", "string"),
        ("label2", "string"), ("labelN2", "string"), ("keywordId2", "string"),
        ("start1", "bigint"), ("start2", "bigint"),
        ("type", "string"), ("type1", "string"), ("type2", "string"),
        ("isMapped", "boolean"),
    ],
}
PAIR = ["targetFromSourceId", "diseaseFromSourceMappedId"]
# column sets of the other outputs, from the plan modules
COLUMNS = {
    "literatureIndex": ["pmid", "pmcid", "date", "year", "month", "day", "keywordId",
                        "relevance", "keywordType", "sentences"],
    "trainingSet": ["pmid", "terms"],
    "vectors": list(vectors_plan.COLUMNS),
    # the left join on the pair key puts the key columns first
    "evidence": PAIR + [c for c in evidence_plan.MATCHES_FIELDS if c not in PAIR]
    + [c for c in evidence_plan.COOCS_FIELDS if c not in PAIR],
}


def fields(df) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(d, f))
            files += 1
    return total, files


def _table(path: str, columns: list[str] | None = None) -> pa.Table:
    return pq.read_table(path, columns=columns)


def digest(out_dir: str) -> dict[str, list[int]]:
    """Order-insensitive digest of the processing outputs: row count and
    the sum of a 64-bit hash over every column of every row."""
    out = {}
    for name in PROCESSING_OUTPUTS:
        rows = _table(f"{out_dir}/{name}").to_pylist()
        h = sum(int.from_bytes(hashlib.blake2b(repr(r).encode(), digest_size=8).digest(), "big")
                for r in rows)
        out[name] = [len(rows), h]
    return out



def check_processing(spark: SparkSession, out_dir: str, truth: dict, counts: dict) -> list[str]:
    """``counts``: output name -> rows, from :func:`digest`."""
    errs = [f"{n}: empty" for n in PROCESSING_OUTPUTS if not counts[n][0]]
    for name, want in SCHEMAS.items():
        got = fields(spark.read.parquet(f"{out_dir}/{name}"))
        if got != want:
            errs.append(f"{name}: schema {got} != FIXTURES {want}")
    got_cols = _table(f"{out_dir}/literatureIndex").schema.names
    if got_cols != COLUMNS["literatureIndex"]:
        errs.append(f"literatureIndex: columns {got_cols}")

    if counts["failedMatches"][0] != truth["failed_matches"]:
        errs.append(f"failedMatches: {counts['failedMatches'][0]} rows, "
                    f"truth {truth['failed_matches']}")
    if counts["matches"][0] != truth["matches_rows"]:
        errs.append(f"matches: {counts['matches'][0]} rows, truth {truth['matches_rows']}")

    m = _table(f"{out_dir}/matches", ["type", "label", "keywordId"]).to_pydict()
    grounded: dict[str, set] = {}
    for t, label, kw in zip(m["type"], m["label"], m["keywordId"]):
        grounded.setdefault(f"{t}|{label}", set()).add(kw)
    unique, ambiguous = truth["unique_labels"], truth["ambiguous_labels"]
    wrong = [k for k, kw in unique.items() if grounded.get(k) != {kw}]
    if wrong:
        errs.append(f"matches: {len(wrong)} unique labels ground wrongly, e.g. "
                    f"{wrong[0]} -> {grounded.get(wrong[0])} (truth {unique[wrong[0]]})")
    stray = [k for k in grounded if k not in unique and not grounded[k] <= set(ambiguous.get(k, ()))]
    if stray:
        errs.append(f"matches: {len(stray)} labels ground outside the truth, e.g. {stray[0]}")
    return errs


def check_downstream(out_dir: str, truth: dict) -> list[str]:
    errs = []
    tables = {n: _table(f"{out_dir}/{n}") for n in ("trainingSet", "vectors", "evidence")}
    for name, t in tables.items():
        if not t.num_rows:
            errs.append(f"{name}: empty")
        if t.schema.names != COLUMNS[name]:
            errs.append(f"{name}: columns {t.schema.names} != {COLUMNS[name]}")

    vocab = {w for terms in tables["trainingSet"].column("terms").to_pylist() for w in terms}
    if tables["vectors"].num_rows != len(vocab):
        errs.append(f"vectors: {tables['vectors'].num_rows} rows, training set has "
                    f"{len(vocab)} distinct keywordIds")

    want = truth["cooc_pair_pubs"]
    ev = tables["evidence"].select(PAIR + ["cooccurredPublicationCount"]).to_pydict()
    rows = list(zip(*ev.values()))
    bad = [r for r in rows if r[2] != want.get(f"{r[0]}|{r[1]}", 0)]
    if bad:
        r = bad[0]
        errs.append(f"evidence: {len(bad)} pairs with a wrong cooccurredPublicationCount, e.g. "
                    f"{r[0]}|{r[1]} = {r[2]} (truth {want.get(f'{r[0]}|{r[1]}', 0)})")
    if not any(r[2] > 0 for r in rows):
        errs.append("evidence: no pair carries co-occurrence evidence")
    return errs
