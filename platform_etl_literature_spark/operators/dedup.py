"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Design notes (100 TB scale)
---------------------------
* ``exact_dedup``: one shuffle on a fixed-width digest, never on the raw
  text — grouping keys stay small, and the md5 can be computed in the
  scan stage (map-side) so the shuffle carries 16 bytes + id per row.
* ``minhash``: signatures are computed per-document map-side (explode →
  groupBy doc) and candidate generation groups rows into LSH buckets,
  so the only all-pairs work is within buckets.  The token hash is an
  explicit deterministic formula (first 8 md5 hex chars → int) rather
  than an engine-private hash, so results are reproducible across
  engines and SQL-checkable.
* Candidate-pair generation (minhash / banded LSH / simhash blocks /
  shingle inverted index) equijoins bucket keys, with the compact
  per-document intermediate (signatures / band keys / gram arrays)
  materialized ONCE via ``persist(MEMORY_AND_DISK)`` so the expensive
  upstream (tokenize/hash/aggregate) never runs twice.  Persist (not
  ``localCheckpoint``) on measurement AND cluster semantics: the A/B
  at sf0.1 (round 4, tools/ab_dedup.py at commit a2c6231) has persist
  beating the round-3 eager checkpoint 2-4× on every path (checkpoint
  pays an extra serialize-all job up front, and its blocks survive
  ``spark.catalog.clearCache()``, degrading every later query in the
  session), and persist keeps lineage so an executor loss recomputes
  instead of failing the job.  Each persisted intermediate is tracked
  in a module registry — call :func:`release_cached` (or
  ``spark.catalog.clearCache()``) to drop them in long-lived
  sessions.  The collect-members-and-explode-pairs alternative was
  measured slower here: hot buckets materialize O(m²) pair arrays in
  single rows.
* Pathological buckets (stop-shingles, constant bands) are the skew
  hazard: a bucket of m members emits m(m−1)/2 pairs.  Every
  generator takes ``max_bucket_size`` to drop them explicitly
  (broadcast anti-join on the hot keys) instead of OOMing; the
  default (None) is exact.
* ``simhash``: 32-bit signature from per-token hashes; hamming-distance
  candidates via bit_count(xor) on an integer column.

Capability extension over the reference (SURVEY.md §7.6): the reference
pipeline's only dedup is ``distinct``/``dropDuplicates``
(Grounding.scala:547,560; Processing.scala:117-122) — ported here as
``exact_dedup``; the near-dup family is new.
"""

from __future__ import annotations

from platform_etl_literature_spark.localdf import local_df
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# Persisted candidate-pair intermediates (signature / band / gram
# tables), so long-lived sessions can free them explicitly — bench and
# tests call release_cached() / clearCache between queries.
_CACHED: list[DataFrame] = []

# Pair-verify joins in this suite deliberately do NOT force
# broadcasts: the record-table hash relations (rank arrays, dense
# vectors) cost several hundred MB of heap per 50 MB of data
# (measured — the forced-broadcast PPJoin verify regressed the 16×
# scale probe 18 → 94 s), a row-count gate cannot see row width, and
# the A/B was neutral locally.  AQE elects broadcasts from its own
# byte-based estimates where they genuinely fit; see the
# verify-strategy notes in prefix_jaccard_pairs and
# timeseries.ts_similar_pairs.


def _fan_out(df: DataFrame) -> DataFrame:
    """See :func:`platform_etl_literature_spark.localdf.fan_out`."""
    from platform_etl_literature_spark.localdf import fan_out

    return fan_out(df)


def _materialize_once(df: DataFrame) -> DataFrame:
    """Persist a small per-document intermediate that feeds both sides
    of a self-join (MEMORY_AND_DISK; lineage kept, see module
    docstring) and track it for :func:`release_cached`."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _CACHED.append(df)
    return df


def release_cached() -> int:
    """Unpersist every intermediate this module has cached; returns the
    count released.  Safe to call at any time — consumers that have not
    yet materialized simply recompute."""
    n = 0
    while _CACHED:
        df = _CACHED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    from platform_etl_literature_spark.operators import ranking

    return n + ranking.release_cached()


# Large prime < 2^31 — universal-hash modulus. a*h+b stays < 2^52
# (a < 2^20, h < 2^32), far from int64 overflow.
_MH_PRIME = 2147483647

# (a, b) parameters for the k MinHash permutations — fixed so runs are
# reproducible and the DuckDB oracle can mirror them literally.
MINHASH_SEEDS: list[tuple[int, int, int]] = [
    (i, a, b)
    for i, (a, b) in enumerate(
        [
            (824393, 93441),
            (742049, 414977),
            (566827, 264607),
            (910771, 122099),
            (385811, 661637),
            (218971, 831151),
            (678481, 518803),
            (141793, 947501),
        ]
    )
]


# SQL fragments for the generated-width builders below (kept in ONE
# place so the Column-DSL helpers and the SQL-string paths can't
# drift): non-empty whitespace tokens, and the deterministic md5-based
# token hash.
_TOKENS_SQL = "filter(split({text}, ' '), t -> t != '') AS w"
_TOKEN_HASH_SQL = "CAST(conv(substr(md5({tok}), 1, 8), 16, 10) AS BIGINT)"


def token_hash(token: Column) -> Column:
    """Deterministic 32-bit-range token hash: int(md5(token)[:8], 16).

    Chosen over xxhash64 because it is reproducible in any engine that
    has md5 — the correctness oracle mirrors it as
    ``('0x' || substr(md5(t),1,8))::BIGINT``.
    """
    return F.conv(F.substring(F.md5(token), 1, 8), 16, 10).cast("long")


def tokens(text: Column, delim: str = " ") -> Column:
    """Split to non-empty tokens."""
    return F.filter(F.split(text, delim), lambda t: t != "")


def shingles(text: Column, n: int) -> Column:
    """Distinct word n-gram shingles of a text column (space-joined).

    Empty array when the document has fewer than ``n`` tokens.
    """
    w = tokens(text)
    # sequence(1, 0) would yield [1, 0] (negative step inference), so
    # short documents get an explicit empty array.
    grams = F.when(
        F.size(w) < n, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(w, i, n)),
        )
    )
    return F.array_distinct(grams)


def staged_gram_arrays(
    df: DataFrame, id_col: str, text_col: str, n: int, hashed: bool
) -> DataFrame:
    """(id, _grams) — distinct word n-gram shingles per document, with
    the token array STAGED through an intermediate projection.

    Staging matters where the gram ARRAY itself is consumed
    downstream (repetition_stats: the inline form measured 4.6× slower
    at sf0.1 because Catalyst does not CSE a lambda-bearing
    expression, so each array reference re-splits the text).  Where
    the grams are exploded immediately (MinHash signatures), the
    round-4 A/B measured the opposite — inline ~2× faster — so
    explode-next paths use inline :func:`shingles` instead.

    ``hashed=True`` emits xxhash64 longs (for operators that only
    count/compare shingles — Jaccard, decontamination: 8-byte keys, no
    gram-string allocation).  ``hashed=False`` emits the space-joined
    strings for md5-based hashing where cross-engine reproducibility
    of the hash value matters (MinHash signatures; collisions aside,
    xxhash64 values could not be replayed by the SQL oracle).
    """
    if hashed:
        gram, empty = "xxhash64(slice(w, i, {n}))", "ARRAY<BIGINT>"
    else:
        gram, empty = "concat_ws(' ', slice(w, i, {n}))", "ARRAY<STRING>"
    gram = gram.format(n=n)
    return df.selectExpr(
        f"`{id_col}` AS id", _TOKENS_SQL.format(text=f"`{text_col}`")
    ).selectExpr(
        "id",
        f"array_distinct(IF(size(w) < {n}, CAST(array() AS {empty}), "
        f"transform(sequence(1, size(w) - {n - 1}), i -> {gram}))) AS _grams",
    )


def _drop_hot_buckets(
    df: DataFrame, keys: list[str], max_bucket_size: int | None
) -> DataFrame:
    """Optionally drop pathological (stop-gram) buckets before pair
    generation: a bucket of m members emits m(m−1)/2 pairs, so one
    viral bucket dominates the whole job.  The hot-key set is tiny by
    construction (keys with > cap members), so it broadcasts.  None =
    exact (no cap)."""
    if max_bucket_size is None:
        return df
    if max_bucket_size < 2:
        raise ValueError(f"max_bucket_size must be ≥ 2, got {max_bucket_size}")
    hot = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > max_bucket_size)
        .select(*keys)
    )
    return df.join(F.broadcast(hot), keys, "left_anti")


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup by content digest: one row per distinct text.

    Returns (digest, keep_id = min id, n_dupes).  Shuffles on the
    16-byte digest only (computed map-side), not the document body.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col).alias("_id"))
        .groupBy("digest")
        .agg(F.min("_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dupes"))
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 2
) -> DataFrame:
    """Per-document MinHash signature rows: (id, seed, sig).

    sig_seed = min over shingles s of (a_seed * h(s) + b_seed) mod P.

    Computed as ONE wide aggregation (k min-columns per document, then
    an unpivot) instead of a seeds cross-join: the shingle stream is
    never amplified k×, map-side partial aggregation reduces each
    partition to one row per doc, and the shuffle carries k longs per
    doc.  At 100 TB this is the difference between shuffling the token
    stream ×k and shuffling one signature row per document.
    """
    # Inline shingles (not staged_gram_arrays): this path explodes the
    # grams immediately, and the round-4 A/B (tools/ab_dedup.py at
    # commit a2c6231) has the inline form ~2× faster at sf0.1 — the
    # staged projection boundary costs more than the repeated split it
    # avoids on explode-next pipelines.  Staging stays load-bearing only
    # where the gram ARRAY itself is consumed (textstats.repetition_stats).
    #
    # Generated-width expressions (shingle transform, k seed mins) are
    # built as SQL strings parsed JVM-side: O(1) py4j round-trips
    # instead of O(k·width) Column-op calls, which measurably dominated
    # the per-query latency of this family (driver-side build was ~1 s
    # of the benched time; at scale it is interactive-latency, not
    # throughput).  Semantics are unchanged — the parsed plan is
    # identical to the Column-DSL form.
    n = shingle_n
    sh = df.selectExpr(f"`{id_col}` AS id", _TOKENS_SQL.format(text=f"`{text_col}`")).selectExpr(
        "id",
        f"explode(array_distinct(IF(size(w) < {n}, CAST(array() AS ARRAY<STRING>), "
        f"transform(sequence(1, size(w) - {n - 1}), i -> concat_ws(' ', slice(w, i, {n})))))) AS s",
    ).selectExpr("id", _TOKEN_HASH_SQL.format(tok="s") + " AS h")
    aggs = [
        F.expr(f"min(({a}L * h + {b}L) % {_MH_PRIME}L) AS sig{i}")
        for i, a, b in MINHASH_SEEDS
    ]
    wide = sh.groupBy("id").agg(*aggs)
    k = len(MINHASH_SEEDS)
    stack = ", ".join(f"{i}, sig{i}" for i, _, _ in MINHASH_SEEDS)
    return wide.selectExpr("id", f"stack({k}, {stack}) as (seed, sig)")


def minhash_candidate_pairs(
    sigs: DataFrame, min_matching: int = 4, max_bucket_size: int | None = None
) -> DataFrame:
    """Near-dup candidate pairs from signature agreement.

    Each (seed, value) acts as an LSH bucket of band size 1; pairs keep
    when they agree on ≥ min_matching of the k seeds.  Estimated
    Jaccard = m/k.

    The signature table (k longs per doc — tiny relative to the corpus
    even at 100 TB) feeds both sides of the bucket equijoin; it is
    persisted ONCE so the shingle→hash→min pipeline never runs twice
    (persist vs checkpoint rationale: module docstring; release via
    :func:`release_cached`).
    """
    k = len(MINHASH_SEEDS)
    sigs = _drop_hot_buckets(_materialize_once(sigs), ["seed", "sig"], max_bucket_size)
    a = sigs.select(F.col("id").alias("id_a"), "seed", "sig")
    b = sigs.select(F.col("id").alias("id_b"), "seed", "sig")
    return (
        a.join(b, ["seed", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_matching"))
        .filter(F.col("n_matching") >= min_matching)
        .withColumn("est_jaccard", F.round(F.col("n_matching") / F.lit(float(k)), 6))
    )


def band_table(sigs: DataFrame, band_size: int = 2) -> DataFrame:
    """(id, band, band_key) LSH band buckets from MinHash signature
    rows: the k seeds split into k/band_size bands; a band's bucket
    key is the exact signature tuple serialized in seed order.
    Shared by :func:`minhash_banded_pairs` (the batch pair join) and
    the streaming near-dup-at-ingest index
    (streaming.ingest_neardedup) — one definition, one oracle
    replay."""
    k = len(MINHASH_SEEDS)
    n_bands = k // band_size
    return (
        sigs.selectExpr(
            "id", "seed", "sig", f"CAST(seed / {band_size} AS INT) AS band"
        )
        .filter(F.col("band") < n_bands)
        .groupBy("id", "band")
        # band bucket = the exact signature tuple, serialized in seed order
        .agg(F.expr("sort_array(collect_list(struct(seed, sig))) AS _tuple"))
        .selectExpr(
            "id",
            "band",
            "array_join(transform(_tuple, e -> CAST(e.sig AS STRING)), ':')"
            " AS band_key",
        )
    )


def minhash_banded_pairs(
    sigs: DataFrame,
    band_size: int = 2,
    min_matching_bands: int = 1,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded LSH over MinHash signature rows: the k seeds split into
    k/band_size bands; a band's bucket key is the exact tuple of its
    signatures, and documents pair when ≥ min_matching_bands buckets
    collide.

    This is the textbook S-curve knob the band-size-1 variant
    (minhash_candidate_pairs) lacks: requiring r signatures to agree at
    once drops the collision probability of a pair with Jaccard j from
    ~j per seed to j^r per band, so low-similarity pairs stop reaching
    the verify stage.  At 100 TB that's the difference between the
    candidate stage carrying O(pairs with j≥0.1) and O(pairs with
    j≥0.6).  Shuffle keys are fixed width regardless of document size;
    the banded table (one short row per doc × band) is persisted once
    for the two-sided bucket join (see module docstring).
    """
    banded = _drop_hot_buckets(
        _materialize_once(band_table(sigs, band_size)),
        ["band", "band_key"],
        max_bucket_size,
    )
    a = banded.select(F.col("id").alias("id_a"), "band", "band_key")
    b = banded.select(F.col("id").alias("id_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
        .filter(F.col("n_bands") >= min_matching_bands)
    )


def simhash_near_pairs(
    signed: DataFrame,
    max_hamming: int = 3,
    n_blocks: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance ≤ max_hamming.

    Pigeonhole blocking: the 32-bit signature splits into n_blocks
    blocks; any pair within hamming d < n_blocks must agree exactly on
    ≥1 block, so candidates come from grouping on (block_idx,
    block_value) — never an all-pairs scan — and only candidates pay
    the bit_count(xor) verify.  Input: (id, simhash) from ``simhash32``.

    The pigeonhole guarantee REQUIRES max_hamming < n_blocks (d ≥
    n_blocks can disturb every block); violating it would silently
    return incomplete pairs, so it raises.
    """
    if max_hamming >= n_blocks:
        raise ValueError(
            f"pigeonhole blocking needs max_hamming ({max_hamming}) < "
            f"n_blocks ({n_blocks}); pairs at distance ≥ n_blocks can "
            "disagree on every block and would be silently missed"
        )
    if 32 % n_blocks != 0:
        raise ValueError(f"n_blocks ({n_blocks}) must divide 32")
    bits_per = 32 // n_blocks
    # the (id, simhash) table is 2 longs per doc: persist it once so
    # the upstream signature aggregation never re-runs for the two join
    # sides; the block explode below is a cheap projection on top
    signed = _materialize_once(signed.select("id", "simhash"))
    mask = (1 << bits_per) - 1
    structs = ", ".join(
        f"struct({i} AS block_idx, shiftright(simhash, {i * bits_per}) & {mask}L AS block_val)"
        for i in range(n_blocks)
    )
    blocks = signed.selectExpr("id", "simhash", f"inline(array({structs}))")
    blocks = _drop_hot_buckets(blocks, ["block_idx", "block_val"], max_bucket_size)
    a = blocks.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sig_a"), "block_idx", "block_val"
    )
    b = blocks.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sig_b"), "block_idx", "block_val"
    )
    return (
        a.join(b, ["block_idx", "block_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 2,
    threshold: float = 0.2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle.

    Inverted-index join on xxhash64 shingle longs (no gram-string
    allocation, 8-byte join keys): |A ∩ B| from the shingle equijoin
    with the per-doc shingle count carried on both sides, |A ∪ B| =
    n_a + n_b − |A ∩ B|.  The compact per-document gram table
    (id, n_sh, _grams) is persisted once — the corpus is tokenized
    exactly once and both join sides re-explode from the materialized
    arrays.  Returns (id_a, id_b, n_inter, jaccard) with id_a < id_b
    and jaccard ≥ threshold.

    At corpus scale set ``max_bucket_size`` to drop stop-shingle
    buckets (each bucket of m docs emits m(m−1)/2 pairs).  In that
    capped mode the per-document sizes are RECOMPUTED over the
    surviving shingles, so the reported jaccard is exact over the
    retained shingle universe — not a biased-down ratio of surviving
    intersections to pre-drop sizes (pairs whose only shared shingles
    were hot still vanish; that is the recall dial, but the scores of
    the pairs that remain are internally consistent and thresholds
    keep their meaning).
    """
    # _fan_out: the single-row-group scan pins the tokenize + shingle +
    # explode map stage (and the inverted-index exchange write behind
    # it) to ONE task — measured 1.1 s of the query's 1.8 s at sf0.1.
    compact = _materialize_once(
        staged_gram_arrays(
            _fan_out(df), id_col, text_col, shingle_n, hashed=True
        ).select("id", F.size("_grams").alias("n_sh"), "_grams")
    )
    sh = compact.select("id", "n_sh", F.explode("_grams").alias("s"))
    if max_bucket_size is not None:
        sh = _drop_hot_buckets(sh.drop("n_sh"), ["s"], max_bucket_size)
        sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
        sh = sh.join(sizes, "id")
    a = sh.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"), "s")
    b = sh.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"), "s")
    return (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "jaccard")
    )


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, int] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by content hash.

    bucket = int(md5(salt || id)[:8], 16) % 100 → split by cumulative
    weight ranges.  Unlike ``randomSplit`` this is reproducible across
    runs, engines, and repartitionings (no RNG, no row-order
    dependence), and a document keeps its split when the corpus grows —
    the property training-data curation actually needs.  Pure map-side;
    zero shuffle.
    """
    weights = weights or {"train": 80, "val": 10, "test": 10}
    if sum(weights.values()) != 100:
        raise ValueError(
            f"split weights must sum to 100, got {dict(weights)} "
            f"(sum {sum(weights.values())})"
        )
    bucket = token_hash(F.concat(F.lit(salt), F.col(id_col).cast("string"))) % 100
    expr = None
    lo = 0
    for name, w in weights.items():
        cond = (bucket >= lo) & (bucket < lo + w)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo += w
    return df.withColumn("split", expr)


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-space near-duplicate pairs: cosine ≥ threshold.

    Brute-force exact variant (O(n²) pairs, broadcast one side) — the
    correctness baseline; at corpus scale route candidates through
    ``similarity.lsh_cosine_topk`` buckets first and verify with this
    formula.  Returns (id_a, id_b, cos) with id_a < id_b.
    """
    from platform_etl_literature_spark.functions.vectors import array_cosine

    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).cast("array<double>").alias("va")
    )
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).cast("array<double>").alias("vb")
    )
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("cos", array_cosine("va", "vb"))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def simhash32(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash per document from token hashes (with multiplicity).

    bit_j(doc) = 1 iff sum over tokens of (±1 at bit j of h(token)) > 0.
    Computed by exploding (token, bit) and summing JVM-side; the shuffle
    carries (id, bit, partial-sum).  Returns (id, simhash).
    """
    tok = df.selectExpr(
        f"`{id_col}` AS id",
        f"explode(filter(split(`{text_col}`, ' '), t -> t != '')) AS t",
    ).selectExpr("id", _TOKEN_HASH_SQL.format(tok="t") + " AS h")
    # One wide aggregation with PACKED bit counters: ones_j (count of
    # tokens with bit j set) accumulates 4 counters per 64-bit long in
    # 16-bit fields, so the aggregate is 8 long sums + a count instead
    # of 32 conditional ±1 sums — 4× smaller partial-agg rows on the
    # shuffle and a 4× narrower codegen'd aggregate (A/B at sf0.1:
    # 0.53s vs 0.75s cold, tools/ab_simhash.py at commit a2c6231).
    # Validity bound: n_tokens < 2^15.  Below it no field can carry
    # into its neighbor (needs 2^16) and the top field × 2^48 cannot
    # overflow the long (needs 2^15).  At/over it the signature is a
    # loud NULL — try_sum absorbs the ANSI overflow of the top field
    # and the n-guard nulls the carry range — never silently wrong;
    # chunk huge docs first (textstats.chunk_tokens) if they matter.
    # bit_j(sig) = (2*ones_j > n), identical to the ±1-sum formulation.
    # All generated-width expressions are single SQL strings (see
    # minhash_signatures for the py4j rationale).
    per_long, width = 4, 16
    n_longs = 32 // per_long
    packed_sums = []
    for g in range(n_longs):
        terms = " + ".join(
            f"(shiftright(h, {g * per_long + i}) & 1L) * {1 << (width * i)}L"
            for i in range(per_long)
        )
        packed_sums.append(F.expr(f"try_sum({terms}) AS p{g}"))
    wide = tok.groupBy("id").agg(*packed_sums, F.expr("count(*) AS n"))
    mask = (1 << width) - 1
    sig_terms = " + ".join(
        f"IF((shiftright(p{j // per_long}, {width * (j % per_long)}) & {mask}L) * 2 > n,"
        f" {1 << j}L, 0L)"
        for j in range(32)
    )
    return wide.selectExpr(
        "id", f"IF(n < {1 << (width - 1)}, {sig_terms}, CAST(NULL AS BIGINT)) AS simhash"
    )


def contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3 / Pile training-data hygiene
    pass): flag corpus documents that share at least one word ``n``-gram
    with any benchmark document, so they can be dropped before training.

    Returns every corpus row as (id, n_grams, shared_ngrams,
    contaminated) where ``n_grams`` is the document's distinct-gram
    count and ``shared_ngrams`` how many of those occur anywhere in the
    benchmark set.

    Scale shape: the benchmark side is tiny relative to a 100 TB corpus
    (eval suites are thousands of documents), so its distinct gram set
    is broadcast — the corpus is scanned once, map-side, and the only
    shuffle is the per-document count aggregation, which map-side
    combines to one row per document.  Grams are xxhash64 longs
    (``staged_gram_arrays``): the broadcast set and the join keys are
    8 bytes instead of n-word strings, and the corpus side never
    allocates gram strings at all.
    """

    def staged_grams(df: DataFrame) -> DataFrame:
        return staged_gram_arrays(df, id_col, text_col, n, hashed=True).select(
            F.col("id").alias(id_col), "_grams"
        )

    bench_grams = (
        staged_grams(benchmark)
        .select(F.explode("_grams").alias("_g"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    # Single pass over the corpus: explode_outer keeps zero-gram (short)
    # documents, the broadcast left join marks benchmark grams, and one
    # aggregation yields both the gram count and the hit count — the
    # corpus text is tokenized exactly once.
    shared = F.count("_hit")
    return (
        staged_grams(corpus)
        .select(F.col(id_col), F.explode_outer("_grams").alias("_g"))
        .join(F.broadcast(bench_grams), "_g", "left")
        .groupBy(id_col)
        .agg(
            F.count("_g").alias("n_grams"),
            shared.alias("shared_ngrams"),
            (shared > 0).cast("int").alias("contaminated"),
        )
    )


def bloom_hash_sql(gram_sql: str) -> tuple[str, str]:
    """The two Kirsch–Mitzenmacher base hashes (h1, h2) of a gram as
    SQL fragments — engine-portable md5, non-negative 32-bit values.
    Round 10: hot call sites project these ONCE into columns and derive
    all ``k`` positions from the columns; inlining them per position
    (the old :func:`bloom_positions_sql`-everywhere shape) both
    recomputed 2 md5 per position at runtime and produced generated
    code big enough that its Janino compile alone cost ~1.4 s per
    query (measured: 32 tasks serialized behind one codegen lock in
    every bloom query's probe stage)."""
    h1 = f"CAST(conv(substring(md5({gram_sql}), 1, 8), 16, 10) AS BIGINT)"
    h2 = (
        f"CAST(conv(substring(md5(concat('b2:', {gram_sql})), 1, 8), 16, 10)"
        " AS BIGINT)"
    )
    return h1, h2


def bloom_positions_from(h1: str, h2: str, m_bits: int, k: int) -> list[str]:
    """The ``k`` Bloom bit positions from ALREADY-PROJECTED base-hash
    columns/fragments (h1 + i·h2 mod m)."""
    return [f"(({h1}) + {i} * ({h2})) % {m_bits}" for i in range(k)]


def bloom_positions_sql(gram_sql: str, m_bits: int, k: int) -> list[str]:
    """SQL expressions for the ``k`` Bloom bit positions of a gram —
    Kirsch–Mitzenmacher double hashing (h1 + i·h2 mod m) over the
    engine-portable md5 :func:`token_hash`, so the DuckDB oracle can
    replay every position (and therefore every false positive)
    bit-for-bit.  Both base hashes are non-negative 32-bit values, so
    plain ``%`` agrees across engines and ``h1 + (k-1)·h2`` never
    overflows a long.  Prefer :func:`bloom_hash_sql` +
    :func:`bloom_positions_from` with the hashes projected once on hot
    paths (see that docstring)."""
    h1, h2 = bloom_hash_sql(gram_sql)
    return bloom_positions_from(h1, h2, m_bits, k)


def bloom_filter_words(
    df: DataFrame, col: str, m_bits: int, k: int
) -> list[int]:
    """Build a Bloom filter over the values of ``df[col]`` and return
    its bit array as ``m_bits / 64`` longs.  The build is distributed
    (positions explode + distinct + one word-level bit_or aggregation);
    the driver collect is bounded by ``m_bits / 64`` rows — a function
    of the FILTER SIZE, never of the corpus.
    """
    if m_bits % 64 != 0 or m_bits < 64:
        raise ValueError(f"m_bits must be a positive multiple of 64: {m_bits}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    h1, h2 = bloom_hash_sql(f"`{col}`")
    pos = bloom_positions_from("_bh1", "_bh2", m_bits, k)
    words = (
        df.selectExpr(f"{h1} AS _bh1", f"{h2} AS _bh2")
        .selectExpr(f"explode(array({', '.join(pos)})) AS p")
        .distinct()
        .selectExpr(
            "shiftright(p, 6) AS w",
            "shiftleft(CAST(1 AS BIGINT), CAST(p & 63 AS INT)) AS b",
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
        .collect()
    )
    arr = [0] * (m_bits // 64)
    for r in words:
        arr[r["w"]] = r["bits"]
    return arr


def bloom_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    m_bits: int = 1 << 20,
    k: int = 3,
) -> DataFrame:
    """Benchmark decontamination through a Bloom filter — the
    constant-memory variant of :func:`contamination` for when the
    reference gram set is itself too large to broadcast as a hash set
    (decontaminating one crawl against another, or against a
    many-benchmark union).  The filter is built once from the
    benchmark's distinct word ``n``-grams, ships to every task as a
    single ``m_bits/64``-long array on a one-row broadcast, and the
    corpus probe is pure map-side arithmetic: k shifted bit tests per
    gram, no corpus-side shuffle except the final per-document
    aggregation.

    Returns every corpus row as (id, n_grams, bloom_hits,
    contaminated).  Bloom semantics are one-sided: ``bloom_hits >=``
    the true shared-gram count (no false negatives — a contaminated
    document can never slip through), with false-positive rate set by
    ``m_bits``/``k`` against the benchmark gram volume.  Positions use
    the portable md5 double-hash (:func:`bloom_positions_sql`), so the
    SQL oracle replays the EXACT filter — false positives included —
    through the position-set formulation (bit ``p`` is set in the array
    iff ``p`` is in the distinct benchmark position set).

    Scale shape: the 100 TB story is the corpus side — one scan, zero
    shuffle of text or grams; the filter memory is fixed at
    ``m_bits/8`` bytes per executor regardless of benchmark size, the
    knob :func:`contamination`'s broadcast set lacks.
    """
    spark = corpus.sparkSession
    # _fan_out both sides: the gram explode + per-gram double-md5 run
    # map-side in the scan stage, which is ONE task on a
    # single-row-group file (measured: 1.23 s probe + 0.89 s filter
    # build, both single-task, at sf0.1).
    corpus = _fan_out(corpus)
    bench_grams = staged_gram_arrays(
        _fan_out(benchmark), id_col, text_col, n, hashed=False
    ).select(F.explode("_grams").alias("_g"))
    arr = bloom_filter_words(bench_grams, "_g", m_bits, k)
    bloom_row = F.broadcast(
        local_df(spark, [(arr,)], "_bloom array<long>")
    )
    h1, h2 = bloom_hash_sql("_g")
    pos = bloom_positions_from("_bh1", "_bh2", m_bits, k)
    bit_tests = [
        f"(element_at(_bloom, CAST(shiftright({p}, 6) AS INT) + 1)"
        f" & shiftleft(CAST(1 AS BIGINT), CAST(({p}) & 63 AS INT))) != 0"
        for p in pos
    ]
    hit = F.expr(
        "_g IS NOT NULL AND " + " AND ".join(f"({t})" for t in bit_tests)
    )
    n_hits = F.count_if(F.col("_hit"))
    return (
        staged_gram_arrays(corpus, id_col, text_col, n, hashed=False)
        .select(F.col("id").alias(id_col), F.explode_outer("_grams").alias("_g"))
        .selectExpr("*", f"{h1} AS _bh1", f"{h2} AS _bh2")
        .crossJoin(bloom_row)
        .select(F.col(id_col), F.col("_g"), hit.alias("_hit"))
        .groupBy(id_col)
        .agg(
            F.count("_g").alias("n_grams"),
            n_hits.alias("bloom_hits"),
            (n_hits > 0).cast("int").alias("contaminated"),
        )
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    group_col: str,
    weight_col: str,
    k: int,
    seed: str = "ws1",
) -> DataFrame:
    """Per-group weighted sampling WITHOUT replacement — Efraimidis &
    Spirakis (IPL 2006): each row draws a deterministic uniform
    ``u in (0,1)`` and the ``k`` rows with the largest ``u^(1/w)`` per
    group are the sample, which is distribution-identical to drawing
    ``k`` times without replacement with probabilities proportional to
    ``w``.  The training-data use is quality-weighted corpus
    subsetting: sample k documents per source/language with
    inclusion probability scaled by a quality or length weight,
    reproducibly.

    Engine-portable determinism: ``u`` derives from
    ``md5(seed ':' id)`` (first 8 hex digits → (h+1)/(2^32+1)), and
    rows rank by ``ln(u)/w`` — a monotone transform of ``u^(1/w)``
    (both sides negative-log; larger is better) — rounded to integer
    MICRO-units (the lm.py micro-nat contract), so the DuckDB oracle
    replays the exact ranking; ties in the rounded key (and only
    those) break by id.  Rows with ``w <= 0`` or NULL are excluded —
    zero-weight rows are unsampleable by definition.

    Scale shape: key computation is map-side arithmetic; the only
    shuffle is the per-group top-k window on ``group_col``.  k is
    assumed ≪ group size; group count absorbs corpus growth.
    """
    from pyspark.sql.window import Window as W

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    key = F.round(
        F.log((h + 1) / F.lit(4294967297.0)) / F.col(weight_col) * 1000000.0,
        0,
    ).cast("long")
    win = W.partitionBy(group_col).orderBy(
        F.col("_key").desc(), F.col(id_col)
    )
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("_key", key)
        .withColumn("_rk", F.row_number().over(win))
        .where(F.col("_rk") <= k)
        .select(
            F.col(group_col),
            F.col(id_col),
            F.col("_key").alias("es_key_micro"),
            F.col("_rk").cast("int").alias("sample_rank"),
        )
    )


def mixture_sample(
    df: DataFrame,
    id_col: str,
    group_col: str,
    rates_bps: dict[str, int],
    default_bps: int = 5000,
    salt: str = "mix",
) -> DataFrame:
    """Deterministic source/language mixture resampling: keep each row
    with a per-group probability given in basis points (``rates_bps``,
    0..10000), decided by content hash — the way corpus mixing weights
    are applied when composing a training set from heterogeneous
    sources.

    bucket = int(md5(salt || id)[:8], 16) % 10000; the row is kept iff
    bucket < its group's rate.  Like hash_split this is reproducible
    across engines and corpus growth (no RNG, no row-order dependence),
    and map-side only: the rate table is a broadcast join, the filter
    prunes before any downstream shuffle.
    """
    spark = df.sparkSession
    rows = [(k, int(v)) for k, v in sorted(rates_bps.items())]
    rate_table = F.broadcast(
        local_df(spark, rows, f"{group_col} string, _bps int")
    )
    bucket = token_hash(F.concat(F.lit(salt), F.col(id_col).cast("string"))) % 10000
    return (
        df.withColumn("bucket", bucket)
        .join(rate_table, group_col, "left")
        .filter(F.col("bucket") < F.coalesce(F.col("_bps"), F.lit(default_bps)))
        .drop("_bps")
    )


def mixture_weights(
    df: DataFrame,
    group_col: str,
    alpha: float = 0.5,
    scale_bps: int = 10000,
) -> DataFrame:
    """Temperature-based mixture rates — the companion that COMPUTES the
    ``rates_bps`` dict :func:`mixture_sample` consumes.  The post-mix
    group distribution is flattened to ``n^alpha`` (alpha=1 keeps the
    natural mix, alpha=0 uniform): per-group keep rate
    ``(n_g / n_min)^(alpha-1)`` — the smallest group keeps everything,
    larger groups downsample, never a rate above 1.

    Returns (group, n, weight_bps).  One exact per-group count
    (map-side combine) + a single-row min broadcast — no second corpus
    scan.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n"))
    mn = counts.agg(F.min("n").alias("_n_min"))
    return counts.crossJoin(F.broadcast(mn)).select(
        group_col,
        "n",
        F.floor(
            F.lit(scale_bps) * F.pow(F.col("n") / F.col("_n_min"), F.lit(alpha - 1.0))
        )
        .cast("int")
        .alias("weight_bps"),
    )


def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    prefix_chars: int | None = None,
) -> DataFrame:
    """Incremental dedup of an arriving batch against the existing
    corpus AND itself: keep a batch row iff its content key is unseen
    in the corpus and it is the first (lowest id) holder of that key
    within the batch.

    The key is md5 of the full text, or of its first ``prefix_chars``
    characters — the head-fingerprint variant that catches documents
    differing only in a templated tail (boilerplate expansions, tracking
    suffixes).

    The anti-join runs hash-to-hash — at 100 TB the corpus side is a
    maintained content-key index (one slim column, bucketable by
    hash), not the corpus itself, so the probe shuffles only digests;
    the within-batch winner is a min aggregation, not a window over
    text rows.
    """

    def key(c: Column) -> Column:
        t = F.substring(c, 1, prefix_chars) if prefix_chars else c
        return F.md5(t)

    bh = batch.select(F.col(id_col), key(F.col(text_col)).alias("_h"))
    seen = corpus.select(key(F.col(text_col)).alias("_h")).distinct()
    fresh = bh.join(seen, "_h", "left_anti")
    winners = fresh.groupBy("_h").agg(F.min(id_col).alias(id_col))
    return batch.join(winners.select(id_col), id_col, "left_semi")


def window_dup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Per-document duplicated-window statistics — the exact-substring
    dedup signal (the Lee et al. "Deduplicating Training Data" /
    RefinedWeb curation pass works on shared long substrings, not
    whole-document similarity): for each document, how many of its
    distinct ``window``-token windows occur in at least one OTHER
    document, and the fraction they represent.

    Returns every input row as (id, n_windows, n_dup_windows,
    dup_fraction); filter on dup_fraction to drop boilerplate-heavy
    documents.  Short documents (< window tokens) report 0 / 0 / 0.0.

    Scale shape: unlike the pair generators there is NO self-join —
    window hashes (xxhash64 longs via ``staged_gram_arrays``) explode
    to one slim (id, hash) stream, and the per-hash document frequency
    is a COUNT OVER (PARTITION BY hash) window, not a groupBy+join
    back: the corpus is scanned and tokenized exactly ONCE (the join
    formulation re-derives the exploded stream for the probe side),
    with the same two shuffles (by hash, then by doc).  Because the
    per-document windows are distinct (``array_distinct`` upstream),
    the partition count IS the document frequency.  ``max_bucket_size``
    drops ubiquitous boilerplate windows (df > cap) before the rollup:
    they are dup-by-definition, so at corpus scale the cap only stops
    a viral window from funneling its whole partition through one
    task — dropped windows are excluded from BOTH numerator and
    denominator (the fraction stays internally consistent, same
    policy as ngram_jaccard_pairs).
    """
    from pyspark.sql.window import Window as W

    # NO _fan_out here: A/B'd 0.68 -> 0.81 s at sf0.1 (round 10) — the
    # explode feeds a map-side-combining window/agg, so the fan-out
    # shuffle costs more than the single-task scan it spreads (the
    # LM-family negative-result class), unlike the pair generators
    # whose inverted-index exchange write was the serialized wall.
    grams = staged_gram_arrays(df, id_col, text_col, window, hashed=True)
    wh = grams.select("id", F.explode_outer("_grams").alias("s"))
    wh = _drop_hot_buckets(wh, ["s"], max_bucket_size) if max_bucket_size else wh
    # short docs land in the all-null partition; count("s") ignores
    # nulls there, so their _df is 0 and they never count as dup
    wh = wh.withColumn("_df", F.count("s").over(W.partitionBy("s")))
    n_dup = F.count(F.when(F.col("_df") > 1, F.lit(1)))
    n_win = F.count("s")
    return wh.groupBy("id").agg(
        n_win.alias("n_windows"),
        n_dup.alias("n_dup_windows"),
        F.when(n_win == 0, F.lit(0.0))
        .otherwise(F.round(n_dup / n_win.cast("double"), 6))
        .alias("dup_fraction"),
    )


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    threshold: float = 0.95,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): bucket the embedding space with a FROZEN k-means
    coarse quantizer, then exact-cosine only WITHIN clusters — pairs
    whose members land in different clusters are never scored.

    This is the third member of the embedding near-dup family:
    brute-force (``embedding_cosine_pairs``, exact, O(n²)), LSH-bucketed
    (``embedding_cosine_pairs_lsh``, random hyperplanes), and this one,
    where the buckets are LEARNED — near-dups concentrate in the same
    cluster far more reliably than in a random-hyperplane bucket, so
    recall per candidate is higher at the same candidate volume.

    Scale shape — the reference SemDeDup computation: quantizer
    assignment is one Arrow-batched numpy matmul per partition
    (map-side, the shared ``nearest_lists_udf``), vectors are
    L2-normalized ONCE on the row side, and each cluster's pair scores
    are one ``X @ X.T`` in an ``applyInPandas`` group — vectorized
    per-pair dot products (measured 1.9s → 0.8s over 300k candidates
    at sf0.1 vs the zip_with/aggregate HOF join, which allocates a
    zipped array per pair).  Per-cluster grouping is the SemDeDup
    memory contract: L scales with the corpus (the paper used 50k
    clusters) so cluster width — one task's working set — stays
    bounded; ``max_cluster_size`` is the explicit valve that drops
    degenerate clusters instead of OOMing a task.  The frozen centroids
    make the chain deterministic and SQL-expressible, so it takes a
    value-level oracle (matmul accumulation order can differ from a
    sequential fold only in the last ulp, absorbed by the 6-decimal
    round — the oracle gate verifies this holds).  Returns
    (id_a, id_b, cos) with id_a < id_b, same cluster, cos ≥ threshold.
    """
    import numpy as np
    import pandas as pd

    from platform_etl_literature_spark.functions.vectors import array_unit
    from platform_etl_literature_spark.operators.similarity import nearest_lists_udf

    lists = nearest_lists_udf(centroids)
    cv = F.col(vec_col).cast("array<double>")
    # _fan_out: the single-row-group embeddings scan pinned the
    # normalize + quantizer-assignment Arrow stage (0.73 s of the
    # query's ~1.0 s at sf0.1) to one task.
    assigned = _fan_out(df).select(
        F.col(id_col).alias("id"),
        array_unit(cv).alias("v"),
        lists(cv)[0].alias("cluster"),
    )
    assigned = _drop_hot_buckets(assigned, ["cluster"], max_cluster_size)

    def pairs_in_cluster(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        X = np.vstack(pdf["v"].to_numpy()[order])
        S = X @ X.T
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = S[iu, ju] >= threshold
        return pd.DataFrame(
            {
                "id_a": ids[iu[keep]],
                "id_b": ids[ju[keep]],
                "cos": np.round(S[iu[keep], ju[keep]], 6),
            }
        )

    id_type = assigned.schema["id"].dataType.simpleString()
    return assigned.groupBy("cluster").applyInPandas(
        pairs_in_cluster, f"id_a {id_type}, id_b {id_type}, cos double"
    )


def scrub_dup_passages(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 16,
) -> DataFrame:
    """Exact-substring dedup as an ACTION (the C4 / Lee et al. policy
    that `window_dup_stats` only measures): split every document into
    non-overlapping ``window``-token passages, keep exactly the FIRST
    corpus-wide occurrence of each distinct passage (ordered by doc id,
    then position), drop every later occurrence — including repeats
    within one document — and reassemble the surviving text in order.

    Returns every input row as (id, text_scrubbed, n_passages,
    n_kept) — a fully-duplicated document survives with an empty
    string, never disappears.  The trailing partial passage (< window
    tokens) is treated like any other passage.

    Scale shape: NO self-join over text, and — unlike the round-4
    row_number-window shape — NO sort shuffle that carries the corpus
    text or funnels a viral passage into one task.  The
    first-occurrence winner per distinct passage is
    ``min(struct(id, pos, passage))`` grouped by the 16-byte md5 digest
    (the digest stands in for passage equality, the standard
    corpus-dedup trade — a 128-bit collision is ~n²/2^129): a hash
    aggregate with MAP-SIDE partial combine, so a passage duplicated a
    million times collapses to one candidate per map partition BEFORE
    the exchange — the skew profile is flat by construction (this was
    the round-4 16x scaling cliff: the window sorted every copy of
    every hot passage in a single reducer task, SCALE.md 44k→15.7k
    rows/s).  Only WINNING passages (≤ one per distinct digest) are
    then regrouped by doc id for reassembly; the per-doc passage count
    comes map-side from the doc itself (ceil(|tokens|/window)), and a
    slim (id, n_passages) spine left-joins the kept aggregates so
    fully-duplicated docs still survive.  Exchanges: digest agg →
    winner-by-doc agg → spine join; the full corpus text crosses the
    wire only as map-side-combined digest-agg input, never sorted.
    Deterministic and fully SQL-expressible (md5 + stable ordering), so
    it takes a value-level oracle.
    """
    w = window
    # NO _fan_out (A/B'd 0.82 -> 0.92 s at sf0.1 — see window_dup_stats)
    toks = df.selectExpr(
        f"`{id_col}` AS id", _TOKENS_SQL.format(text=f"`{text_col}`")
    )
    passages = toks.filter(F.size("w") > 0).selectExpr(
        "id",
        f"posexplode(transform(sequence(0, CAST(ceil(size(w) / {w}.0) AS INT) - 1), "
        f"k -> concat_ws(' ', slice(w, k * {w} + 1, {w})))) AS (pos, passage)",
    )
    # first corpus-wide occurrence of each distinct passage, ordered by
    # (id, pos): min(struct) under the same lexicographic order the old
    # window used — partial-aggregated map-side, skew-proof
    winners = (
        passages.groupBy(F.md5("passage").alias("_d"))
        .agg(F.min(F.struct("id", "pos", "passage")).alias("f"))
        .select("f.id", "f.pos", "f.passage")
    )
    kept = winners.groupBy("id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, passage))), "
            "e -> e.passage), ' ') AS text_scrubbed"
        ),
        F.count(F.lit(1)).alias("n_kept"),
    )
    # slim per-doc spine: every input row survives (a fully-duplicated
    # doc keeps an empty string); n_passages computed map-side
    spine = toks.select(
        "id",
        F.when(
            F.col("w").isNull() | (F.size("w") == 0), F.lit(0).cast("long")
        )
        .otherwise(F.ceil(F.size("w") / F.lit(float(w))).cast("long"))
        .alias("n_passages"),
    )
    return spine.join(kept, "id", "left").select(
        "id",
        F.coalesce("text_scrubbed", F.lit("")).alias("text_scrubbed"),
        "n_passages",
        F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
    )


def _lsh_adaptive_bits_col(n_col, n0: int, min_bits: int, max_bits: int):
    """The ``max(min_bits, ceil(log2(n/n0)))`` bit schedule
    (tools/scale_probe.py:_bits_for at commit a2c6231 — expected bucket
    size ~n0) as an exact integer column expression, capped at ``max_bits``:
    ``ceil(log2(x))`` for x ≥ 2 is the bin-string length of x−1, and
    the min_bits floor absorbs the degenerate small-x cases.  The
    identical arithmetic replays in the SQL oracle, so the schedule
    scales with the corpus WITHOUT breaking parity at any factor (the
    isotonic-max_cells lesson)."""
    ceil_ratio = (n_col + F.lit(n0 - 1)).cast("long") / F.lit(n0)
    x = F.greatest(ceil_ratio.cast("long"), F.lit(1).cast("long"))
    return F.least(
        F.lit(max_bits),
        F.greatest(
            F.lit(min_bits),
            F.length(F.conv(x - F.lit(1), 10, 2)),
        ),
    ).cast("int")


def embedding_cosine_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_tables: int = 8,
    n_bits: int = 4,
    dim: int | None = None,
    adaptive_bits: bool = False,
    adaptive_n0: int = 25,
    adaptive_min_bits: int = 4,
    adaptive_max_bits: int = 12,
) -> DataFrame:
    """Embedding-space near-duplicate pairs at scale: random-hyperplane
    LSH buckets the corpus ONCE (persisted, both join sides derive from
    it by rename), candidates are pairs sharing a (table, bucket), and
    only candidates pay the exact-cosine verify — the scale path that
    ``embedding_cosine_pairs`` (brute force, O(n²)) documents.

    Approximate but fully deterministic: the md5-derived hyperplanes
    are fixed constants, so the SQL oracle replays identical buckets
    and the result is reproducible across engines and runs.  Recall at
    cosine c is 1-(1-((1-acos(c)/π)^n_bits))^n_tables — tune upward
    with more tables, tighter buckets with more bits.  Returns
    (id_a, id_b, cos) with id_a < id_b and cos ≥ threshold.

    VERIFY-FIRST plan shape (the round-8 occupancy instrument's
    finding): the pair dedup used to run BEFORE the cosine, so the
    dedup shuffle carried both dim-wide vectors as payload per
    candidate — at 16× corpus that shuffle alone cost 2.1× the bucket
    join (measured: join 0.74 s, join+dedup 2.36 s).  Cosine + the
    threshold filter now run directly on the bucket-join output
    (duplicated candidates included — cosine is deterministic, so
    multi-table collisions recompute the same value, expected ~1-2×
    for non-dup pairs) and only the slim (id_a, id_b, cos) survivor
    rows pay the dedup shuffle.  16× cell 10.65 → ~2.7 s with rows/s
    now RISING with scale.

    ``adaptive_bits=True`` (round 10) applies the
    max(min_bits, ceil(log2(n/n0))) occupancy schedule
    (:func:`_lsh_adaptive_bits_col`) WITHOUT an eager count or
    recall-relevant plane changes: buckets are computed ONCE at
    ``adaptive_max_bits`` with the usual fixed md5 planes, and the
    effective bucket is the LOW-b-BIT MASK ``bucket % 2^b`` with b
    from a broadcast one-row count — masking low bits of the packed
    sign vector IS bucketing with exactly the first b planes, so the
    result equals a fixed ``n_bits=b`` run bit-for-bit and the SQL
    oracle replays schedule and mask integer-for-integer.  ``n_bits``
    is ignored in this mode.
    """
    from platform_etl_literature_spark.functions.vectors import array_cosine
    from platform_etl_literature_spark.operators.similarity import _bucket_rows

    # _fan_out: the single-row-group scan's partitioning sticks to the
    # persisted bucket table, so the bucketing UDF AND the entire
    # broadcast-join probe (bucket join + cosine verify) serialized on
    # one core (measured: 2.2 s single-task probe stage per rep at
    # sf0.1; warm rep 2.7 -> 0.7 s with the fan-out).
    df = _fan_out(df)
    eff_bits = adaptive_max_bits if adaptive_bits else n_bits
    raw = _bucket_rows(df, "id", id_col, vec_col, n_tables, eff_bits, dim)
    if adaptive_bits:
        nrow = df.agg(F.count(F.lit(1)).alias("_n"))
        b = _lsh_adaptive_bits_col(
            F.col("_n"), adaptive_n0, adaptive_min_bits, adaptive_max_bits
        )
        raw = (
            raw.crossJoin(F.broadcast(nrow))
            .withColumn("_b", b)
            .withColumn(
                "bucket",
                F.expr(
                    "pmod(bucket, shiftleft(CAST(1 AS BIGINT), _b))"
                ),
            )
            .drop("_n", "_b")
        )
    bucketed = _materialize_once(raw)
    a = bucketed.select(
        F.col("id").alias("id_a"), F.col("_v_id").alias("_va"), "tbl", "bucket"
    )
    b = bucketed.select(
        F.col("id").alias("id_b"), F.col("_v_id").alias("_vb"), "tbl", "bucket"
    )
    return (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", array_cosine("_va", "_vb"))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_lsh_occupancy(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_tables: int = 8,
    n_bits: int = 4,
    dim: int | None = None,
    adaptive_bits: bool = False,
    adaptive_n0: int = 25,
    adaptive_min_bits: int = 4,
    adaptive_max_bits: int = 12,
) -> DataFrame:
    """Bucket-occupancy accountability for the LSH near-dup path (the
    ts_recall/dedup_recall pattern): per hash table, the bucket count,
    the max and mean occupancy, and the candidate-pair volume
    Σ s·(s−1)/2 the exact-cosine verify stage would pay.  This is the
    measured check that the log2(n/25) bit-growth schedule
    (tools/scale_probe.py:_bits_for at commit a2c6231) actually holds
    expected bucket size — and so per-bucket quadratic verify work — constant as the
    corpus grows; a drifting max_bucket or super-linear n_cand_pairs
    at a larger factor is the loud signal to add bits or valve.
    ``adaptive_bits`` mirrors :func:`embedding_cosine_pairs_lsh`'s
    round-10 schedule mode (low-b-bit mask of max-bit buckets) so the
    instrument measures the join's ACTUAL buckets.

    Scale shape: one bucketing pass (the same vectorized Arrow matmul
    the join path uses) + two hash aggregates; output is
    table-count-sized, no pair join anywhere.  Deterministic md5
    hyperplanes → full SQL oracle.
    """
    from platform_etl_literature_spark.operators.similarity import (
        _bucket_rows,
    )

    eff_bits = adaptive_max_bits if adaptive_bits else n_bits
    raw = _bucket_rows(df, "id", id_col, vec_col, n_tables, eff_bits, dim)
    if adaptive_bits:
        nrow = df.agg(F.count(F.lit(1)).alias("_n"))
        b = _lsh_adaptive_bits_col(
            F.col("_n"), adaptive_n0, adaptive_min_bits, adaptive_max_bits
        )
        raw = (
            raw.crossJoin(F.broadcast(nrow))
            .withColumn("_b", b)
            .withColumn(
                "bucket",
                F.expr(
                    "pmod(bucket, shiftleft(CAST(1 AS BIGINT), _b))"
                ),
            )
            .drop("_n", "_b")
        )
    occ = raw.groupBy("tbl", "bucket").agg(F.count(F.lit(1)).alias("_s"))
    return occ.groupBy("tbl").agg(
        F.sum("_s").alias("n_vecs"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("_s").alias("max_bucket"),
        F.expr("sum(_s * (_s - 1) DIV 2)").alias("n_cand_pairs"),
        F.round(
            F.sum("_s").cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_bucket"),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    the MOSS scheme): hash every positional token ``k``-gram, slide a
    ``window`` over the hash sequence, and keep the minimum of each
    window.  The distinct selected minima are the document fingerprint.

    Guarantees (from the paper): any shared substring of at least
    ``window + k - 1`` tokens contributes at least one common
    fingerprint, while only ~2/(window+1) of all gram hashes are kept —
    a sublinear sketch with a matching-detection floor, unlike bare
    MinHash (no locality guarantee) or full n-gram sets (linear size).

    Scale design (100 TB): one corpus scan; tokens and gram hashes are
    staged through their own projections so the text splits ONCE and
    the hash array materializes ONCE per row (Catalyst does not CSE
    lambda-bearing expressions — the staged_gram_arrays lesson); the
    fingerprint selection is pure per-row array math inside codegen.
    Output is the exploded (id, fp) set — ~2·n_tokens/(window+1) longs
    per document, the only thing that ever shuffles downstream.

    Degenerate documents: fewer than ``k`` tokens → no grams → no
    fingerprints (row absent); fewer than ``window`` grams → one
    fingerprint (the global minimum), per the paper's "at least one
    fingerprint per document that has any gram" convention.

    The gram hash is the engine-portable :func:`token_hash` (md5-based)
    so the SQL oracle replays identical fingerprints.
    """
    if k < 1 or window < 1:
        raise ValueError(f"k and window must be >= 1, got k={k} window={window}")
    w = tokens(F.col(text_col))
    toks = df.select(F.col(id_col).alias("id"), w.alias("w"))
    grams = F.when(
        F.size("w") < k, F.array().cast("array<bigint>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size("w") - (k - 1)),
            lambda i: token_hash(F.concat_ws(" ", F.slice("w", i, k))),
        )
    )
    staged = toks.select("id", grams.alias("g"))
    fps = (
        F.when(F.size("g") == 0, F.array().cast("array<bigint>"))
        .when(F.size("g") < window, F.array(F.array_min("g")))
        .otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("g") - (window - 1)),
                    lambda j: F.array_min(F.slice("g", j, window)),
                )
            )
        )
    )
    # no row-level distinct: array_distinct already dedups the
    # fingerprint set WITHIN each document (the only duplication the
    # window minima can produce), so the exploded (id, fp) rows are
    # unique by construction — a distinct() here would be a pure-waste
    # full shuffle of the sketch.
    return staged.select("id", F.explode(fps).alias("fp"))


def winnow_candidate_pairs(
    fps: DataFrame,
    min_shared: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs from shared winnowing fingerprints:
    documents sharing >= ``min_shared`` fingerprints, with the shared
    count as the match strength.  Same fixed-width bucket-equijoin
    shape as :func:`minhash_candidate_pairs` — the join key is one
    8-byte fingerprint, pairs are generated only within fingerprint
    buckets (never all-pairs), and ``max_bucket_size`` drops viral
    stop-fingerprint buckets before the quadratic blowup.
    """
    fps = _drop_hot_buckets(_materialize_once(fps), ["fp"], max_bucket_size)
    a = fps.select(F.col("id").alias("id_a"), "fp")
    b = fps.select(F.col("id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 3,
    divisor: int = 8,
) -> DataFrame:
    """Content-defined chunking (the gear-hash/FastCDC idea at token
    granularity): a chunk boundary falls after token *i* whenever the
    hash of the ``window`` tokens ending at *i* is ≡ 0 mod
    ``divisor`` — so boundaries are a pure function of LOCAL content.
    Unlike fixed-size chunking, an insertion early in a document shifts
    only the chunk it lands in: every later boundary re-synchronizes,
    which is what makes chunk-digest dedup robust to edit drift
    (boilerplate, templates, quoted passages) across a crawl.

    Returns one row per chunk: (id, chunk_idx, start, n_tokens,
    digest) with ``digest = md5(chunk text)``; expected chunk length ≈
    ``divisor`` tokens.  Documents shorter than ``window`` tokens are
    a single chunk.

    Scale shape: everything up to the explode is per-row HOF
    arithmetic on the staged token array (boundary detection is a
    slice-hash per position — the winnowing gram-hash pattern), no
    shuffle anywhere; the hash is the engine-portable
    :func:`token_hash`, so the SQL oracle replays identical
    boundaries.
    """
    if window < 1 or divisor < 1:
        raise ValueError(
            f"window and divisor must be >= 1, got {window}, {divisor}"
        )
    toks = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("w")
    ).filter(F.size("w") > 0)
    n = F.size("w")
    w_arr = F.col("w")

    def is_boundary(i: Column) -> Column:
        gram = F.concat_ws(" ", F.slice(w_arr, i - (window - 1), window))
        return token_hash(gram) % divisor == 0

    bpos = F.when(
        n < window, F.array().cast("array<int>")
    ).otherwise(F.filter(F.sequence(F.lit(window), n), is_boundary))
    bounds = F.array_sort(
        F.array_distinct(
            F.concat(F.array(F.lit(0)), bpos, F.array(n))
        )
    )
    staged = toks.select("id", "w", bounds.alias("b"))
    chunk = F.transform(
        F.sequence(F.lit(1), F.size("b") - 1),
        lambda j: F.struct(
            (j - 1).alias("chunk_idx"),
            (F.element_at("b", j) + 1).alias("start"),
            (F.element_at("b", j + 1) - F.element_at("b", j)).alias(
                "n_tokens"
            ),
            F.md5(
                F.concat_ws(
                    " ",
                    F.slice(
                        F.col("w"),
                        F.element_at("b", j) + 1,
                        F.element_at("b", j + 1) - F.element_at("b", j),
                    ),
                )
            ).alias("digest"),
        ),
    )
    return staged.select("id", F.explode(chunk).alias("c")).select(
        "id",
        F.col("c.chunk_idx").cast("int").alias("chunk_idx"),
        F.col("c.start").cast("int").alias("start"),
        F.col("c.n_tokens").cast("int").alias("n_tokens"),
        F.col("c.digest").alias("digest"),
    )


def cdc_dedup_stats(chunks: DataFrame) -> DataFrame:
    """Cross-corpus chunk-level dedup signal over :func:`cdc_chunks`
    output: per distinct chunk digest, how many copies exist, how many
    documents carry it, the earliest carrier, and the chunk length —
    the table that drives boilerplate stripping or chunk-level
    delta-storage decisions.  One hash aggregation keyed by the
    16-byte digest; map-side partial combine flattens hot boilerplate
    before the exchange."""
    return chunks.groupBy("digest").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.countDistinct("id").alias("n_docs"),
        F.min("id").alias("first_id"),
        F.min("n_tokens").alias("n_tokens"),
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key: Column,
    window: int = 4,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD'95):
    order every record by a caller-supplied blocking key, slide a
    ``window``-record neighborhood down the sorted order, and emit the
    candidate pairs inside each neighborhood.  The classic entity-
    resolution complement to hash blocking (MinHash/SimHash buckets):
    records whose keys are ADJACENT but not equal — typos, prefixes,
    zero-padding drift — land in the same neighborhood even though
    they share no exact bucket.

    Scale shape: the global order comes from the range-partitioned
    zipWithIndex (:func:`operators.ranking.ordered_global_index` — no
    single-reducer window), and neighborhood pairs are an EQUIJOIN on
    computed positions: each record explodes to its ``window-1``
    successor positions and joins the position table — (window-1)×n
    slim rows, one hash shuffle, never a theta-join.  Candidate count
    is exactly (window-1)·n minus the tail — linear in n by
    construction, the property that makes SNM the bounded-candidate
    baseline.  Returns (id_a, id_b, gap) with id_a the earlier record
    and gap in [1, window-1]; verify with any similarity on top.

    (key, id) must be deterministic; ties in ``key`` are broken by the
    id so the order — and the DuckDB ``row_number`` oracle — is total.
    """
    from platform_etl_literature_spark.operators.ranking import (
        ordered_global_index,
    )

    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    k = df.select(F.col(id_col).alias("id"), key.alias("k"))
    pos = ordered_global_index(
        k, [F.asc("k"), F.asc("id")], rank_col="pos"
    ).select("id", "pos")
    succ = pos.select(
        F.col("id").alias("id_a"),
        F.col("pos").alias("pos_a"),
        F.explode(
            F.sequence(F.col("pos") + 1, F.col("pos") + (window - 1))
        ).alias("pos_b"),
    )
    b = pos.select(F.col("id").alias("id_b"), F.col("pos").alias("pos_b"))
    return succ.join(b, "pos_b").select(
        "id_a", "id_b", (F.col("pos_b") - F.col("pos_a")).alias("gap")
    )


def _prefix_jaccard_frames(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    max_bucket_size: int | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared candidate-generation chain for the PPJoin family:
    returns (compact, matched, cand) — the persisted (id, n, sorted
    rank array) table, the prefix+LENGTH-filtered pair rows (one per
    shared prefix token, pre-dedup), and the POSITIONAL-filtered
    distinct candidate pairs.  :func:`prefix_jaccard_pairs` verifies
    ``cand`` exactly; :func:`prefix_jaccard_stats` counts each stage
    to publish the measured filter reduction."""
    from platform_etl_literature_spark.operators.ranking import (
        ordered_global_index,
    )

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    toks = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(tokens(F.col(text_col))).alias("w"),
    ).filter(F.size("w") > 0)
    # global rare-first token order: rank 1 = rarest.  (df ASC, token
    # ASC) is a deterministic total order, so both engines and every
    # rerun produce identical prefixes.  Ranked with the
    # range-partitioned zipWithIndex (operators.ranking) — the
    # vocabulary table is 10⁸–10⁹ rows at web scale, far too large for
    # a single-reducer row_number window.
    flat = toks.select("id", F.explode("w").alias("t"))
    ranks = ordered_global_index(
        flat.groupBy("t").agg(F.count(F.lit(1)).alias("_df")),
        [F.asc("_df"), F.asc("t")],
        rank_col="_r",
    ).select("t", F.col("_r").cast("int").alias("r"))
    compact = _materialize_once(
        flat.join(ranks, "t")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("r")).alias("rs"))
        .select("id", F.size("rs").alias("n"), "rs")
    )
    # prefix length n - ceil(t*n) + 1; explode only the prefix ranks,
    # keeping each rank's 1-based POSITION in the sorted set (feeds the
    # positional filter) and the set size (feeds the length filter)
    plen = (F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1).cast("int")
    prefix = compact.select(
        "id",
        "n",
        F.posexplode(F.slice("rs", 1, plen)).alias("_p0", "r"),
    ).select("id", "n", (F.col("_p0") + 1).alias("p"), "r")
    prefix = _drop_hot_buckets(prefix, ["r"], max_bucket_size)
    # teff absorbs the round-to-6 slack in the verify's jaccard compare
    # (a pair can pass verify with true jaccard as low as t - 5e-7), so
    # neither filter can drop a pair the verify would keep — the
    # brute-force oracle remains the losslessness proof.
    teff = threshold - 1e-6
    a = prefix.select(
        F.col("id").alias("id_a"),
        F.col("n").alias("_na"),
        F.col("p").alias("_pa"),
        "r",
    )
    b = prefix.select(
        F.col("id").alias("id_b"),
        F.col("n").alias("_nb"),
        F.col("p").alias("_pb"),
        "r",
    )
    # LENGTH FILTER (ICDE'06): J >= t forces min(n)/max(n) >= t —
    # applied inside the join output, before the pair-dedup shuffle.
    matched = (
        a.join(b, "r")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (F.col("_nb") >= F.lit(teff) * F.col("_na"))
            & (F.col("_na") >= F.lit(teff) * F.col("_nb"))
        )
    )
    # POSITIONAL FILTER (WWW'08): a shared token at sorted positions
    # (pa, pb) caps the overlap at min(pa-1, pb-1) + 1 +
    # min(na-pa, nb-pb) — earlier tokens overlap at most min(pa-1,pb-1)
    # times, later ones at most min of the remainders.  J >= t needs
    # overlap >= t/(1+t)·(na+nb); the bound holds at EVERY shared
    # token, so the pair-dedup aggregation takes the MIN slack over its
    # matched prefix tokens (strictly stronger than any single row) and
    # prunes pairs whose tightest bound already rules them out.
    ubound = (
        F.least(F.col("_pa") - 1, F.col("_pb") - 1)
        + 1
        + F.least(F.col("_na") - F.col("_pa"), F.col("_nb") - F.col("_pb"))
    )
    alpha = (F.lit(teff) / F.lit(1.0 + teff)) * (F.col("_na") + F.col("_nb"))
    # COUNT bound (the full PPJoin candidate condition, WWW'08 §4):
    # every shared token ranked below the LAST matched prefix token is
    # itself a matched row (rank order = array order, and a position
    # below pa*/pb* is inside both prefixes), so the true overlap is
    # EXACTLY cnt on the matched span plus at most the shorter
    # remaining suffix: overlap <= cnt + min(na - pa*, nb - pb*).
    # Strictly tighter than any single row's positional bound whenever
    # the pair shares >= 1 prefix token at deep positions (cnt - 1 <=
    # min(pa* - 1, pb* - 1) always) — measured at t=0.85/16x it cuts
    # the verify-stage candidates 79.0M -> ~33M where min-slack alone
    # plateaued.  VALID ONLY WITHOUT the hot-bucket valve: a dropped
    # hot bucket removes matched rows, cnt undercounts, and the bound
    # would over-prune — min-slack (a per-row bound, subset-safe)
    # remains the only positional prune when the valve is active.
    grouped = (
        matched.select(
            "id_a",
            "id_b",
            "_na",
            "_nb",
            "_pa",
            "_pb",
            (ubound.cast("double") - alpha).alias("_slack"),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.min("_slack").alias("_min_slack"),
            F.count(F.lit(1)).alias("_cnt"),
            F.max("_pa").alias("_pam"),
            F.max("_pb").alias("_pbm"),
            F.max("_na").alias("_na"),
            F.max("_nb").alias("_nb"),
        )
        .filter(F.col("_min_slack") >= 0.0)
    )
    if max_bucket_size is None:
        cbound = F.col("_cnt") + F.least(
            F.col("_na") - F.col("_pam"), F.col("_nb") - F.col("_pbm")
        )
        calpha = (F.lit(teff) / F.lit(1.0 + teff)) * (
            F.col("_na") + F.col("_nb")
        )
        grouped = grouped.filter(cbound.cast("double") >= calpha)
    cand = grouped.select("id_a", "id_b")
    return compact, matched, cand


def prefix_jaccard_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Filter-reduction accountability for the PPJoin chain (the
    ts_recall/emb_lsh_occupancy pattern, the r7 verdict's ask): one
    row measuring how many pairs each lossless filter admits —

    * ``n_prefix_pairs``: DISTINCT pairs sharing ≥1 rare-prefix token
      that survive the ICDE'06 length filter (the candidate set a
      plain PPJoin would verify),
    * ``n_after_positional``: pairs surviving the WWW'08 positional
      prunes — BOTH the per-token min-slack bound and (round 9) the
      full PPJoin count bound — i.e. what the verify stage actually
      pays,
    * ``n_verified``: pairs passing exact Jaccard ≥ t,

    plus the measured reduction ratios.  Every count is replayed
    integer-for-integer by the SQL oracle (same rank order, same
    filters), so the claimed pruning is value-checked, not asserted.
    """
    compact, matched, cand = _prefix_jaccard_frames(
        df, id_col, text_col, threshold, max_bucket_size
    )
    cand = _materialize_once(cand)
    n_prefix = (
        matched.select("id_a", "id_b")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_prefix_pairs"))
    )
    n_pos = cand.agg(F.count(F.lit(1)).alias("n_after_positional"))
    a = compact.select(
        F.col("id").alias("id_a"), F.col("n").alias("n_a"), F.col("rs").alias("_ra")
    )
    b = compact.select(
        F.col("id").alias("id_b"), F.col("n").alias("n_b"), F.col("rs").alias("_rb")
    )
    inter = F.size(F.array_intersect("_ra", "_rb"))
    jac = inter / (F.col("n_a") + F.col("n_b") - inter).cast("double")
    n_ver = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .filter(F.round(jac, 6) >= threshold)
        .agg(F.count(F.lit(1)).alias("n_verified"))
    )
    return (
        n_prefix.crossJoin(n_pos)
        .crossJoin(n_ver)
        .select(
            "n_prefix_pairs",
            "n_after_positional",
            "n_verified",
            F.when(
                F.col("n_prefix_pairs") > 0,
                F.round(
                    F.col("n_after_positional")
                    / F.col("n_prefix_pairs").cast("double"),
                    6,
                ),
            ).otherwise(F.lit(1.0)).alias("positional_keep_ratio"),
            F.when(
                F.col("n_after_positional") > 0,
                F.round(
                    F.col("n_verified")
                    / F.col("n_after_positional").cast("double"),
                    6,
                ),
            ).otherwise(F.lit(1.0)).alias("verify_precision"),
        )
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Set-similarity join with PREFIX FILTERING (the PPJoin family —
    Chaudhuri/Ganti/Kaushik ICDE'06, Xiao et al. WWW'08): exact Jaccard
    >= ``threshold`` pairs over distinct-token sets, generating
    candidates only from each document's RARE-TOKEN PREFIX instead of
    its full inverted index.

    Why it scales where the plain inverted-index join
    (:func:`ngram_jaccard_pairs`) pays Σdf²: order every token by
    global document frequency (rarest first, ties by token — one
    deterministic total order both engines replay) and sort each
    document's token-rank set by that order.  Two sets with
    Jaccard >= t MUST share a token within their first
    n − ⌈t·n⌉ + 1 ranks (pigeonhole: missing the whole prefix caps the
    overlap below t), so only prefix tokens — the LOW-df ones, since
    the prefix is rare-first — enter the join.  Stop-token buckets
    never generate candidates at all; the quadratic blowup moves from
    the most common tokens to the rarest.

    One corpus scan builds the compact (id, n, sorted rank array)
    table (persisted — candidate generation and verification both read
    it); the df/rank table shuffles as (token, long) pairs; the verify
    is per-pair ``array_intersect`` on int ranks.  ``max_bucket_size``
    remains available as a belt-and-braces valve for adversarial
    corpora where even a prefix bucket goes viral.

    The prefix filter is compounded with three further lossless
    candidate filters: the ICDE'06 LENGTH filter (min(n)/max(n) >= t)
    inside the bucket join, the WWW'08 POSITIONAL filter — each shared
    prefix token's sorted positions bound the achievable overlap, and
    the pair-dedup aggregation keeps a pair only if its tightest bound
    still reaches the overlap threshold t/(1+t)·(n_a+n_b) — and
    (round 9) the full PPJoin COUNT bound in the same aggregation
    (overlap <= matched-prefix count + min remaining suffix; see the
    construction note in ``_prefix_jaccard_frames``).  The length and
    positional row filters apply BEFORE the pair-dedup shuffle, so
    pairs they prune never shuffle; the aggregate bounds prune before
    the verify joins.

    Exact (no recall loss): completeness of the prefix filter is a
    theorem, re-checked against the brute-force all-pairs join in
    tests/test_properties.py.  Returns (id_a, id_b, n_a, n_b, n_inter,
    jaccard) with id_a < id_b.
    """
    compact, _matched, cand = _prefix_jaccard_frames(
        df, id_col, text_col, threshold, max_bucket_size
    )
    # Verify-join strategy, MEASURED AND DECIDED (round 9): a shuffle
    # verify ships the first joined side's rank array through the
    # second join's exchange (pair-count × array-width — 47 GB of
    # payload at t=0.85/16×), and the Vernica/Carey/Li SIGMOD'10
    # broadcast-record-table alternative was built and A/B'd.  Local
    # verdict: NEUTRAL standalone (21.2 s broadcast vs 21.5 s shuffle
    # at 16× — a single-JVM "shuffle" is a memory copy) and ACTIVELY
    # HARMFUL under long-session heap pressure (the scale probe's 16×
    # cell hit 93.8 s: two ~50 MB broadcast hash relations over int
    # arrays are several hundred MB of driver/executor heap each, a
    # GC storm next to accumulated persists).  So the SHUFFLE join
    # stays — Catalyst/AQE can still elect a broadcast from its own
    # size estimates on a real cluster, where executor-local memory
    # budgets make that call correctly per-site.
    a = compact.select(
        F.col("id").alias("id_a"), F.col("n").alias("n_a"), F.col("rs").alias("_ra")
    )
    b = compact.select(
        F.col("id").alias("id_b"), F.col("n").alias("n_b"), F.col("rs").alias("_rb")
    )
    inter = F.size(F.array_intersect("_ra", "_rb"))
    jac = inter / (F.col("n_a") + F.col("n_b") - inter).cast("double")
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("n_inter", inter)
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_a", "n_b", "n_inter", "jaccard")
    )


def prefix_jaccard_best_match(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Output-collapsed emission mode for the PPJoin chain (VERDICT
    r9 item 7): the round-9 funnel row proved ``prefix_jaccard_pairs``
    is OUTPUT-bound on clique-heavy corpora — the true pair list is
    quadratic in clique size (27.4M pairs from 80k docs at the 16×
    probe), and no lossless candidate filter can cut below true
    output.  Curation users deciding keep/drop per document don't
    need the pair list: this mode runs the IDENTICAL candidate
    generation + exact verify and then collapses per document to its
    single best match — highest Jaccard, ties to the smallest partner
    id — plus the document's matching-pair count (its duplication
    degree, the keep/drop signal).

    The collapse is a map-side-partial ``min(struct(-jaccard,
    partner))`` aggregate keyed by id, so the quadratic pair volume
    never reaches the output exchange or the sink: a clique of size
    c emits c rows instead of c·(c−1)/2.  Returns (id, best_id,
    jaccard, n_pairs) — one row per document with at least one match.
    """
    pairs = prefix_jaccard_pairs(
        df, id_col, text_col, threshold, max_bucket_size
    ).select("id_a", "id_b", "jaccard")
    # symmetrize MAP-SIDE via explode, not a self-union: a union's two
    # branches would recompute the whole (un-cached) verify chain
    # twice — measured at the 16× probe cell as ~+30% over the
    # all-pairs wall, where this form pays one verify pass + a slim
    # 2×pairs fan-out that the partial aggregation collapses locally
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("id"),
                    F.col("id_b").alias("partner"),
                    F.col("jaccard").alias("jaccard"),
                ),
                F.struct(
                    F.col("id_b").alias("id"),
                    F.col("id_a").alias("partner"),
                    F.col("jaccard").alias("jaccard"),
                ),
            )
        ).alias("_e")
    ).select("_e.id", "_e.partner", "_e.jaccard")
    best = sym.groupBy("id").agg(
        F.min(
            F.struct((-F.col("jaccard")).alias("_nj"), F.col("partner"))
        ).alias("_b"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    return best.select(
        "id",
        F.col("_b.partner").alias("best_id"),
        (-F.col("_b._nj")).alias("jaccard"),
        "n_pairs",
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT join — the partial-duplication
    detector symmetric Jaccard misses (Broder 1997, "On the
    resemblance and containment of documents", §2 defines both).

    containment(A in B) = |grams(A) ∩ grams(B)| / |grams(A)| over
    DISTINCT word n-grams.  An excerpt, quote block, or boilerplate
    wrapper that fully embeds a short document in a long one scores
    jaccard ≈ |A|/|B| (arbitrarily small) but containment(A in B) = 1 —
    exactly the asymmetry a training-data curation pass needs to find
    "doc A is a chunk of doc B" without also flagging every long pair.

    Same scale shape as :func:`ngram_jaccard_pairs`: the corpus is
    tokenized ONCE into a persisted compact (id, n_sh, _grams) table of
    xxhash64 shingle longs, both inverted-index sides re-explode from
    it, the overlap count comes from one shingle equijoin with the two
    per-doc sizes carried on the pair, and both directed containments
    are derived from the single undirected overlap — no second join.
    ``max_bucket_size`` is the stop-shingle valve (each hot bucket of m
    docs emits m(m-1)/2 candidate pairs); in capped mode per-doc sizes
    are RECOMPUTED over surviving shingles so reported containments
    stay exact over the retained shingle universe (the
    ngram_jaccard_pairs capped-mode contract).

    Returns (id_a, id_b, n_inter, cont_a_in_b, cont_b_in_a,
    containment) with id_a < id_b and containment = max(directions)
    ≥ ``threshold``.
    """
    # _fan_out: same single-task shingle-stage fix as ngram_jaccard_pairs.
    compact = _materialize_once(
        staged_gram_arrays(
            _fan_out(df), id_col, text_col, shingle_n, hashed=True
        ).select("id", F.size("_grams").alias("n_sh"), "_grams")
    )
    sh = compact.select("id", "n_sh", F.explode("_grams").alias("s"))
    if max_bucket_size is not None:
        sh = _drop_hot_buckets(sh.drop("n_sh"), ["s"], max_bucket_size)
        sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
        sh = sh.join(sizes, "id")
    a = sh.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"), "s")
    b = sh.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"), "s")
    cab = F.round(F.col("n_inter") / F.col("n_a").cast("double"), 6)
    cba = F.round(F.col("n_inter") / F.col("n_b").cast("double"), 6)
    return (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .withColumn("cont_a_in_b", cab)
        .withColumn("cont_b_in_a", cba)
        .withColumn("containment", F.greatest("cont_a_in_b", "cont_b_in_a"))
        .filter(F.col("containment") >= threshold)
        .select(
            "id_a", "id_b", "n_inter",
            "cont_a_in_b", "cont_b_in_a", "containment",
        )
    )
