"""Triple extraction + mention detection over transcript turns.

Reference analog: the per-transaction parse in RunFullScan.processTransaction
(RunFullScan.java:277-295) — raw bytes → outputs/addresses via bitcoinj. Here
the "parse" is dictionary/pattern extraction over ``text``, run as an
Arrow-vectorized ``pandas_udf`` (batched columnar transfer; no per-row
Python UDF — BASELINE.json input_hint).

Semantics (shared with the pure-Python oracle in tests/oracle_kg.py):

* tokens = lowercase maximal runs of [a-z0-9] with char spans;
* a **mention** is a token whose surface is a canonical entity or a known
  alias (vocab.ALL_SURFACES);
* a **triple** is tokens (i, i+1, i+2) where i and i+2 are mentions and
  i+1 is a predicate (vocab.PREDICATES).

Invariant (F2 analog, Utils.fixDupeTxid / per-turn text equality): ``text``
passes through untouched; extraction only reads it. Verified in tests.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .vocab import ALIASES, ENTITIES, PREDICATES

TOKEN_RE = re.compile(r"[a-z0-9]+")

_SURFACES = frozenset(ENTITIES) | frozenset(ALIASES)
_PREDS = frozenset(PREDICATES)

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField(
            "mentions",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("pos", T.IntegerType()),
                        T.StructField("surface", T.StringType()),
                        T.StructField("span_start", T.IntegerType()),
                        T.StructField("span_end", T.IntegerType()),
                        T.StructField("mention_type", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "triples",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("subj_surface", T.StringType()),
                        T.StructField("pred", T.StringType()),
                        T.StructField("obj_surface", T.StringType()),
                        T.StructField("subj_pos", T.IntegerType()),
                    ]
                )
            ),
        ),
    ]
)


def _extract_one(text: str):
    if text is None:
        return ([], [])
    toks = [(m.group(0), m.start(), m.end()) for m in TOKEN_RE.finditer(text.lower())]
    mentions = []
    mention_pos = {}
    for i, (tok, s, e) in enumerate(toks):
        if tok in _SURFACES:
            kind = "exact" if tok in ENTITIES else "alias"
            mentions.append((i, tok, s, e, kind))
            mention_pos[i] = tok
    triples = []
    for i, tok, s, e, kind in mentions:
        if i + 2 in mention_pos and i + 1 < len(toks) and toks[i + 1][0] in _PREDS:
            triples.append((tok, toks[i + 1][0], mention_pos[i + 2], i))
    return (mentions, triples)


@pandas_udf(EXTRACT_SCHEMA)
def extract_udf(texts: pd.Series) -> pd.DataFrame:
    """Arrow-batched extraction: one struct(mentions, triples) per turn."""
    out = [_extract_one(t) for t in texts]
    return pd.DataFrame({"mentions": [o[0] for o in out], "triples": [o[1] for o in out]})


def extract(turns: DataFrame, repartition_on_conv: bool = True) -> DataFrame:
    """turns(conv_id, turn_idx, text, ...) → + ``ex`` struct column.

    Scale: explicit ``repartition(conv_id)`` before the UDF per north_rule —
    co-locates a conversation's turns so downstream per-conv aggregations
    (and grouped extraction variants) reuse the partitioning, and spreads
    Arrow batches evenly across executors.
    """
    if repartition_on_conv:
        turns = turns.repartition("conv_id")
    return turns.withColumn("ex", extract_udf(F.col("text")))


def mentions_from(extracted: DataFrame) -> DataFrame:
    """Flatten to the mentions table (FIXTURES.md §2)."""
    m = extracted.select(
        "conv_id", "turn_idx", F.explode(F.col("ex.mentions")).alias("m")
    )
    return m.select(
        "conv_id",
        "turn_idx",
        F.col("m.pos").alias("pos"),
        F.col("m.surface").alias("surface"),
        F.col("m.span_start").alias("span_start"),
        F.col("m.span_end").alias("span_end"),
        F.col("m.mention_type").alias("mention_type"),
    )


def mention_flags_from_extracted(extracted: DataFrame) -> DataFrame:
    """F4 sparse-flags side table (input_special analog: the reference
    stores a TxInputSpecial row ONLY for inputs whose sighash/multisig
    flags differ from the default — DbQueryInputSpecial.java,
    SigUtils.java:30-77).

    Per-mention flags, stored only when non-default (any flag true):

    * ``flag_alias`` — the surface matched via the alias dictionary, not a
      canonical form (mention_type == 'alias');
    * ``flag_caps`` — the ORIGINAL source span is all-caps (extraction
      lowercases; the span offsets let us check the raw text).

    Keyed by (conv_id, turn_idx, pos); readers join it back onto the
    mentions with coalesced false defaults. The extraction struct already
    carries text AND mentions in the same row, so the flags fall out of
    one explode — no mentions ⋈ turns shuffle join (measured ~11 s → ~3 s
    at 20 k convs). Pure Column math — no UDF. Rows equal the join form's
    (tests/test_datagen_extract.py)."""
    m = extracted.select(
        "conv_id", "turn_idx", "text", F.explode(F.col("ex.mentions")).alias("m")
    )
    span = F.expr("substring(text, m.span_start + 1, m.span_end - m.span_start)")
    flag_caps = (span == F.upper(span)) & (span != F.lower(span))
    flag_alias = F.col("m.mention_type") == "alias"
    return (
        m.select(
            "conv_id",
            "turn_idx",
            F.col("m.pos").alias("pos"),
            flag_alias.alias("flag_alias"),
            flag_caps.alias("flag_caps"),
        )
        .where(F.col("flag_alias") | F.col("flag_caps"))
    )


def triples_from(extracted: DataFrame) -> DataFrame:
    """Flatten to the raw (surface-level) triples table."""
    t = extracted.select("conv_id", "turn_idx", F.explode(F.col("ex.triples")).alias("t"))
    return t.select(
        "conv_id",
        "turn_idx",
        F.col("t.subj_surface").alias("subj_surface"),
        F.col("t.pred").alias("pred"),
        F.col("t.obj_surface").alias("obj_surface"),
        F.col("t.subj_pos").alias("subj_pos"),
    )
