"""Native text-normalization pipeline — the Spark NLP replacement.

The reference grounds entity labels via a Spark NLP pipeline
(Grounding.scala:45-108): two tokenizer branches producing a symbol
token column ``TT`` and a stopword-cleaned, normalized, stemmed label
column ``LT``, plus a Greek→Latin ``normalise`` (Helpers.scala:94-96,
here ``normalise_sql``) and key generation (Grounding.scala:367-387).

This rebuild expresses the same capability with Catalyst primitives:

* tokenization → ``split`` on the branch's delimiter class
  (LT branch splits on whitespace + ``- / : , ;``; TT branch on
  whitespace + ``: , ;`` — Grounding.scala:52,58),
* stopword removal → ``filter`` HOF with the exact case-sensitive list
  (Grounding.scala:19-31: google list + "a","i" + capitalized forms),
* normalization → ``lower`` + ``regexp_replace`` of ``[^\\w\\d\\s]``
  (subsumes the explicit ``-``/``/``/``,`` patterns of the two
  Normalizer configs, Grounding.scala:63-68,77-82),
* stemming → Porter stemmer as an **Arrow-batched pandas UDF** over the
  token array (the only Python in the pipeline; Spark NLP's JVM Stemmer
  is Porter-style).

Token-level parity with Spark NLP internals is not bit-guaranteed and
does not need to be (SURVEY.md §7.3): grounding keys only need to be
consistent between the LUT side and the mention side, and both sides
run this same pipeline.

Scale note: the stemmer UDF is applied to the exploded *variant* stream
once per (entity-synonym | mention-label), all map-side; everything
else is whole-stage-codegen.  For a 100 TB corpus the token stream can
optionally be deduplicated before stemming (distinct labelN keys are
~10^6-10^7, far smaller than mentions).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from platform_etl_literature_spark.functions.porter import stem

# Stop word list: google list + "a"/"i", case-sensitive with capitalized
# variants (Grounding.scala:19-31).
GOOGLE_STOP_WORDS = (
    "about above after again against all am an and any are aren't as at be because "
    "been before being below between both but by can't cannot could couldn't did didn't do does doesn't doing don't down "
    "during each few for from further had hadn't has hasn't have haven't having he he'd he'll he's her here here's hers "
    "herself him himself his how how's i'd i'll i'm i've if in into is isn't it it's its itself let's me more most mustn't "
    "my myself no nor not of off on once only or other ought our ours ourselves out over own same shan't she she'd she'll "
    "she's should shouldn't so some such than that that's the their theirs them themselves then there there's these they "
    "they'd they'll they're they've this those through to too under until up very was wasn't we we'd we'll we're we've "
    "were weren't what what's when when's where where's which while who who's whom why why's with won't would wouldn't "
    "you you'd you'll you're you've your yours yourself yourselves"
).split(" ")

ALL_STOP_WORDS = (
    ["a", "i"] + GOOGLE_STOP_WORDS + [w.capitalize() for w in GOOGLE_STOP_WORDS]
)

LABEL_T = "LT"  # stemmed-label key type
TOKEN_T = "TT"  # symbol key type

_LT_SPLIT = r"[\s\-/:,;]+"  # Tokenizer splitChars - / : , ; (Grounding.scala:52)
_TT_SPLIT = r"[\s:,;]+"  # TokenizerSymbol splitChars : , ; (Grounding.scala:58)
_CLEANUP = r"[^\w\d\s]"  # Normalizer cleanup patterns (Grounding.scala:67,81)


def normalise_sql(c: str) -> str:
    """Greek→Latin letter mapping (Helpers.scala:94-96) as a staged SQL
    fragment.  ``c`` is interpolated verbatim: pass a pre-validated SQL
    expression or an already-backtick-quoted identifier; nothing is
    escaped here."""
    return f"translate({c}, 'αβγδεζηικλμνξπτυω', 'abgdezhiklmnxptuo')"


# Ship the stemmer by value inside the UDF pickle: executors must not
# need this package on their import path (spark-submit without --py-files,
# driver launched from another cwd, etc).
from platform_etl_literature_spark.functions import porter as _porter_module

for _cp_name in ("pyspark.cloudpickle", "cloudpickle"):
    try:  # pragma: no cover - defensive
        import importlib

        importlib.import_module(_cp_name).register_pickle_by_value(_porter_module)
    except Exception:
        pass


def _make_stem_udf():
    _stem = stem

    def stem_arrays(tokens: pd.Series) -> pd.Series:
        # per-batch memo: vocabularies are tiny relative to the token
        # stream, so the stemmer runs ~once per distinct token (a plain
        # dict, not lru_cache — a wrapper would break by-value pickling)
        cache: dict[str, str] = {}

        def cached(t: str) -> str:
            r = cache.get(t)
            if r is None:
                r = _stem(t)
                cache[t] = r
            return r

        return tokens.map(
            lambda arr: None if arr is None else [cached(t) for t in arr]
        )

    return F.pandas_udf(stem_arrays, ArrayType(StringType()))


# asNondeterministic: the optimizer otherwise SPLITS filters that
# reference the stemmed column (with_keys_column's length(key) > 0)
# and re-evaluates the UDF below the pushed filter — the round-10
# before-plans show every grounding stream paying stem_arrays TWICE
# (e.g. plans/r10/evidence_pipeline_before.txt nodes 102+105, 111+114,
# 120+123, 129+132).  Marking the UDF non-deterministic forbids the
# duplication (guide §4.4); the computed value is unchanged.
_stem_tokens = _make_stem_udf().asNondeterministic()


# ---------------------------------------------------------------------------
# expression staging: every helper below assembles its whole expression as
# ONE SQL string parsed JVM-side.  A Python-lambda higher-order function
# costs ~25 ms of py4j round-trips PER CALL to build (measured: 50 HOF
# builds = 1.35 s of the grounding chain's 3.4 s driver-side construction),
# and Column.isin over the 340-word stopword list creates one JVM literal
# per word; an f-string rendering of the same expression is one round-trip.
# ---------------------------------------------------------------------------


def _sql_str(s: str) -> str:
    """Render a Python string as a Spark SQL single-quoted literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


_STOP_IN_SQL = "(" + ",".join(_sql_str(w) for w in ALL_STOP_WORDS) + ")"
_CLEAN_SQL = f"_t -> regexp_replace(lower(_t), {_sql_str(_CLEANUP)}, '')"


def _nonempty_sql(arr: str) -> str:
    return f"filter({arr}, _t -> _t IS NOT NULL AND _t != '')"


def token_terms(text: str) -> Column:
    """TT branch over the column named ``text``: symbol tokens — split,
    lowercase, strip punctuation."""
    return F.expr(
        _nonempty_sql(f"transform(split(`{text}`, {_sql_str(_TT_SPLIT)}), {_CLEAN_SQL})")
    )


def label_terms_unstemmed(text: str) -> Column:
    """LT branch before stemming over the column named ``text``: split,
    case-sensitive stopword removal (on raw tokens, as the reference
    cleans before lowering), lowercase, strip punctuation."""
    kept = f"filter(split(`{text}`, {_sql_str(_LT_SPLIT)}), _t -> NOT (_t IN {_STOP_IN_SQL}))"
    return F.expr(_nonempty_sql(f"transform({kept}, {_CLEAN_SQL})"))


def normalise_sentence(df: DataFrame, text_col: str, prefix: str) -> DataFrame:
    """Add ``{prefix}_TT`` and ``{prefix}_LT`` token-array columns —
    the capability of ``Grounding.normaliseSentence`` (:144-158) +
    the NLP pipeline, with the Porter stemmer as the single Python
    stage."""
    return df.select(
        "*",
        token_terms(text_col).alias(f"{prefix}_{TOKEN_T}"),
        _stem_tokens(label_terms_unstemmed(text_col)).alias(f"{prefix}_{LABEL_T}"),
    )


def generate_key(prefix: str, key_type: Column) -> Column:
    """Grounding key from the token columns (Grounding.scala:367-387):
    LT → sorted-distinct concatenation; TT → order-preserving
    concatenation."""
    lt_key = F.expr(
        "array_join(array_sort("
        + _nonempty_sql(f"array_distinct(`{prefix}_{LABEL_T}`)")
        + "), '')"
    )
    tt_key = F.expr(
        "array_join(" + _nonempty_sql(f"`{prefix}_{TOKEN_T}`") + ", '')"
    )
    return F.when(key_type == LABEL_T, lt_key).when(
        key_type == TOKEN_T, tt_key
    )


def with_keys_column(
    df: DataFrame, prefix: str, key_column: str, key_type_col: str = "keyType"
) -> DataFrame:
    """Attach the grounding key and drop empty keys
    (Grounding.generateKeysColumn:367-387)."""
    out = df.withColumn(key_column, generate_key(prefix, F.col(key_type_col)))
    return out.filter(
        F.col(key_column).isNotNull() & (F.length(key_column) > 0)
    )
