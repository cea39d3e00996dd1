"""Embedding UDF boundary (SURVEY §2.C C3/C4/C6) — the only place Python
touches the hot path, isolated behind Arrow-batched pandas UDFs.

The reference embeds with torch models loaded once per process:
  - ResNet-50 pooler → 2048-d image vectors (vector_db.py:43-63)
  - CLIP image tower → 512-d (text_img.py:30-44)
  - CLIP text tower → 512-d shared space (text_img.py:64-71)

Torch isn't available in this environment, so the default encoder is a
*deterministic hash embedder* (same signature, 64-d to match the fixture
collection): the md5 of the text (full 128-bit digest) seeds an MT19937
stream that draws the gaussian components — reproducible anywhere,
including in tests. Swapping in a real model is a drop-in:

    def make_resnet_encoder():
        import torch
        from transformers import AutoImageProcessor, ResNetModel
        processor = AutoImageProcessor.from_pretrained("microsoft/resnet-50")
        model = ResNetModel.from_pretrained("microsoft/resnet-50").eval()
        def encode(series):                      # pd.Series[bytes] -> list[list[float]]
            with torch.no_grad():                # vector_db.py:51,59
                ...
        return encode
    embed_udf = make_embed_udf(make_resnet_encoder, dim=2048)

The iterator-of-batches pandas UDF form means the encoder constructor runs
ONCE per executor worker (the reference's load-model-once,
vector_db.py:43-51), not once per row or batch.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_DIM = 64


def hash_embed_one(text: str, dim: int = DEFAULT_DIM) -> list[float]:
    """Deterministic stand-in embedding: ONE md5 of the text seeds a
    MT19937 stream that draws all ``dim`` gaussian components (L2
    normalized, cosine-ready like CLIP output).

    One digest + a vectorized RNG per document — ~dim× cheaper than
    hashing per-dimension, which matters because this stub sits where a
    real model's GPU batch would (the UDF hot path).
    """
    import numpy as np

    # full 128-bit digest as a 4×uint32 seed array — a 32-bit seed would
    # give ~50% odds of two identical embeddings in a ~77k-doc corpus
    # (birthday bound), which the stress probes exceed
    digest = hashlib.md5(text.encode()).hexdigest()
    seed = [int(digest[i : i + 8], 16) for i in range(0, 32, 8)]
    vals = np.random.RandomState(seed).standard_normal(dim)
    norm = float(np.linalg.norm(vals)) or 1.0
    return [float(v) / norm for v in vals]


def make_embed_udf(
    make_encoder: Callable[[], Callable[[pd.Series], list[list[float]]]] | None = None,
    dim: int = DEFAULT_DIM,
):
    """Build an Arrow-batched iterator pandas UDF: STRING -> ARRAY<FLOAT>.

    ``make_encoder`` is called once per worker inside the UDF (model init);
    each yielded batch is encoded vectorized. Default: hash embedder.
    """
    if make_encoder is None:
        def make_encoder():  # self-contained: executors need no package import
            # keep in sync with hash_embed_one — same seed, same stream
            import hashlib as _hl

            import numpy as _np

            d = dim

            def encode(series: pd.Series) -> list[list[float]]:
                out = []
                for t in series:
                    digest = _hl.md5(str(t).encode()).hexdigest()
                    seed = [int(digest[i : i + 8], 16) for i in range(0, 32, 8)]
                    vals = _np.random.RandomState(seed).standard_normal(d)
                    n = float(_np.linalg.norm(vals)) or 1.0
                    out.append([float(v) / n for v in vals])
                return out

            return encode

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def embed(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        encoder = make_encoder()  # once per worker — vector_db.py:43-51 analogue
        for series in batches:
            yield pd.Series(encoder(series))

    return embed


def embed_texts(df, text_col: str = "text", out_col: str = "embedding", dim: int = DEFAULT_DIM):
    """Attach an embedding column to a DataFrame of texts (ingestion path,
    §3.1 step 6 — but batch-parallel instead of the reference's
    single-threaded row loop)."""
    udf = make_embed_udf(dim=dim)
    return df.withColumn(out_col, udf(F.col(text_col)))


def embed_query_text(text: str, dim: int = DEFAULT_DIM) -> list[float]:
    """Driver-side single-query embedding (query path, text_img.py:64-71:
    the text tower output that feeds plain k-NN)."""
    return hash_embed_one(text, dim)
