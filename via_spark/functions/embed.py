"""Text embedding (F6): deterministic hashing-trick embedder + the
production pandas_udf interface.

Capability parity with the reference's dense embedding step
(``BAAI/bge-small-en-v1.5`` via fastembed,
``app/core/config.py:27``, ``app/services/qdrant_service.py:22-26,123``):
two implementations behind one interface (SURVEY.md §7.4 decision 5):

* ``token_dim_sql`` — the deterministic embedder of the forensic queries
  (mirrored by their DuckDB oracles): a hashing-trick bag-of-tokens
  embedding.
  Each token maps to dimension ``conv(sha256(token)[:3], 16, 10) % 384``
  with weight = term frequency. Exact integer weights ⇒ cosine math is
  oracle-checkable bit-for-bit (``operators.forensic`` scores each row's
  dims against a broadcast query vector).
* ``dense_embedded`` / ``dense_embed_batches`` — the production path:
  an Arrow-batched ``mapInPandas`` stage hosting a pluggable encoder
  (``Callable[[list[str]], vectors]``). The batching shell is real and
  tested with an injected fake model; only ``_load_model_encoder`` is
  STUBBED (the container has no ONNX runtime) with a clearly-marked
  NotImplementedError, so swapping in the real model is a one-liner.

Scale posture (100 TB): the production path streams Arrow batches
through Python workers with bounded memory.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EMBED_DIM = 384


def token_dim_sql(t: str, dim: int = EMBED_DIM) -> str:
    """Deterministic hashing-trick dimension for one token, as SQL text
    over the SQL expression ``t``: first 12 bits of sha256(token), mod
    ``dim``."""
    return f"CAST(conv(substring(sha2({t}, 256), 1, 3), 16, 10) AS INT) % {dim}"


def _load_model_encoder(model_name: str = "BAAI/bge-small-en-v1.5"):
    """Load the production encoder — import-guarded optional dependency.

    When ``fastembed`` (the reference's embedding runtime,
    ``app/services/qdrant_service.py:22-26``) is importable, this
    returns a real encoder loaded ONCE per Python worker. In containers
    without the runtime it raises NotImplementedError; the
    deterministic ``token_dim_sql`` embedding is the engine's
    always-testable embedder and the Arrow batching shell is proven
    with an injected fake encoder either way.
    tests/test_vector.py::test_dense_embedded_production_model runs the
    real model end-to-end when the runtime is present (skipped here).
    """
    try:
        from fastembed import TextEmbedding  # optional model runtime
    except ImportError as exc:
        raise NotImplementedError(
            f"dense embedding ({model_name}) requires the fastembed/ONNX "
            "runtime, not present in this container; use "
            "token_dim_sql or inject an encoder into "
            "dense_embedded()"
        ) from exc
    model = TextEmbedding(model_name)
    return lambda texts: [list(map(float, v)) for v in model.embed(list(texts))]


def dense_embed_batches(batches: Iterator, encoder=None, dim: int = EMBED_DIM):
    """Production dense-embedding stage (Arrow-batched mapInPandas body).

    Contract: each incoming pandas DataFrame has columns (id, text);
    each yielded frame has (id, embedding: list[float] of ``dim``).
    ``encoder`` is ``Callable[[list[str]], sequence of dim-length
    vectors]`` — injected for tests, defaulting to the (stubbed) model
    loader so the ONNX swap-in is a one-line change in
    ``_load_model_encoder``. The encoder is resolved once per worker,
    NOT per batch — the model-load cost amortizes across the stream.
    """
    import pandas as pd

    enc = encoder if encoder is not None else _load_model_encoder()
    for pdf in batches:
        vecs = enc(pdf["text"].tolist())
        out = [list(map(float, v)) for v in vecs]
        if any(len(v) != dim for v in out):
            raise ValueError(f"encoder returned a non-{dim}-dim vector")
        yield pd.DataFrame({"id": pdf["id"], "embedding": out})


def dense_embedded(df: DataFrame, id_col: str, text_col: str,
                   encoder=None, dim: int = EMBED_DIM) -> DataFrame:
    """(id, text) frame → (id, embedding array<float>) via Arrow batches.

    The Spark-side plumbing (schema, batch shape, per-worker encoder
    resolution) is real and tested with an injected fake encoder; only
    the model load itself is stubbed (no runtime in this container)."""
    sel = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    id_type = sel.schema["id"].dataType.simpleString()
    return sel.mapInPandas(
        lambda it: dense_embed_batches(it, encoder, dim),
        schema=f"id {id_type}, embedding array<float>",
    )
