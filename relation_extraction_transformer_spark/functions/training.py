"""Training-side data operators (SURVEY P10).

Inference never uses these (the reference applies them only when
``evaluation=False``); they exist so a training-data pipeline built on
this engine has the same data-side surface as the reference's loader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import constants as C


def word_dropout(ids: F.Column, rate: float, seed: int, row_key: F.Column):
    """P10 (ref:data/loader.py:328-332): replace non-UNK ids with UNK_ID
    with probability ``rate``.

    Deterministic variant: the coin is a hash of (seed, row key, position,
    id) mapped to [0,1) — reproducible across retries/partitions, unlike
    per-element rand() (a retried task would otherwise redrop differently).
    """
    return F.transform(
        ids,
        lambda x, i: F.when(
            (x != C.UNK_ID)
            & (
                F.pmod(
                    F.xxhash64(F.lit(seed), row_key, i, x), F.lit(1_000_000)
                )
                < int(rate * 1_000_000)
            ),
            F.lit(C.UNK_ID),
        ).otherwise(x),
    )


def word_dropout_tokens(tokens_col, rate: float, seed: int, row_key):
    """P10 over token STRINGS (pre-vocab form): replace non-UNK tokens by
    the UNK token with probability ``rate`` — equivalent to the reference's
    id-level dropout (ref:data/loader.py:328-332) because UNK_TOKEN maps to
    UNK_ID.  Same deterministic coin as :func:`word_dropout`, so a retried
    task redrops identically; the training loop passes seed=epoch to
    resample each epoch like the reference's per-epoch batch rebuild."""
    return F.transform(
        tokens_col,
        lambda x, i: F.when(
            (x != C.UNK_TOKEN)
            & (
                F.pmod(
                    F.xxhash64(F.lit(seed), row_key, i, x), F.lit(1_000_000)
                )
                < int(rate * 1_000_000)
            ),
            F.lit(C.UNK_TOKEN),
        ).otherwise(x),
    )
