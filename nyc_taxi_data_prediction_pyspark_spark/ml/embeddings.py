"""Text → embedding column (SURVEY.md §2.10 M2).

The reference ships ``sentence-transformers`` in its container deps
(reference: docker-compose.yaml:69) but no model code. When the library
is importable the encoder is an Arrow-vectorized pandas UDF with
per-executor (per-Python-worker) model loading — the model loads once
per worker, not per row or per batch.

Without it the encoder is a deterministic hashed bag-of-words stand-in
behind the same signature, computed natively: each lower-cased
whitespace token lands in one of ``EMB_DIM`` md5 buckets and the vector
is the bucket histogram over the token count. No row crosses into
Python on that path.
"""

from __future__ import annotations

import importlib.util

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, FloatType

_MODEL = None  # per-Python-worker cache (loaded once per executor process)

EMB_DIM = 32

# Python's str.split() whitespace set as a Java regex class: besides
# \s it splits on \x1c-\x1f, \x85, NBSP and the Unicode space separators.
_PY_WS = r"[\\t\\n\\x0B\\f\\r\\x1C-\\x20\\x85\\xA0\\u1680\\u2000-\\u200A\\u2028\\u2029\\u202F\\u205F\\u3000]+"


def _load_model():
    """Loads sentence-transformers ONCE per Python worker process."""
    global _MODEL
    if _MODEL is None:  # pragma: no cover - needs sentence-transformers
        from sentence_transformers import SentenceTransformer

        m = SentenceTransformer("all-MiniLM-L6-v2")
        _MODEL = lambda texts: [list(map(float, v)) for v in m.encode(texts)]
    return _MODEL


@F.pandas_udf(ArrayType(FloatType()))
def embed_text(texts: pd.Series) -> pd.Series:
    model = _load_model()
    return pd.Series(model(texts.fillna("").tolist()))


def with_embeddings(df: DataFrame, text_col: str = "text", out_col: str = "embedding") -> DataFrame:
    """Attach an embedding column; a narrow map stage (no shuffle).
    The model path is Arrow-batched through ``embed_text``.

    The stand-in keeps the token buckets in a column of their own:
    inlined into the per-bucket count they would be re-hashed for every
    one of the ``EMB_DIM`` buckets."""
    if importlib.util.find_spec("sentence_transformers") is not None:
        return df.withColumn(out_col, embed_text(F.col(text_col)))
    buckets = "__emb_buckets"
    return (
        df.withColumn(
            buckets,
            F.expr(
                f"transform(array_remove(split(lower(coalesce(`{text_col}`, '')), '{_PY_WS}'), ''),"
                f" t -> CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) % {EMB_DIM})"
            ),
        )
        .withColumn(
            out_col,
            F.expr(
                f"transform(sequence(0, {EMB_DIM - 1}), k -> CAST((size({buckets})"
                f" - size(array_remove({buckets}, k))) / greatest(size({buckets}), 1) AS FLOAT))"
            ),
        )
        .drop(buckets)
    )
