"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Convention: a multimodal asset is carried as two columns —

- ``content``: ``binary`` (the raw image/audio/video bytes; at 100 TB these
  normally live out-of-row with a ``path`` column and get range-read by the
  decode stage, but the in-row form is the general case)
- ``meta``: ``struct<format string, n_bytes long, content_hash string>``

Metadata extraction (:func:`binary_meta`) is pure Column expressions and
oracle-checkable. Decoding (:func:`decode_binary`) is the one legitimate
Python boundary in the engine: an Arrow-batched ``mapInPandas`` whose batch
shape, output schema, and partitioning are real and tested — the actual
image/audio codec is injected as a ``decoder`` callable because codec
libraries are not available in this container. :func:`fake_decoder` is the
deterministic stand-in; :func:`codec_decoder` is the clearly-marked stub
that raises ``NotImplementedError`` until a real codec is supplied.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DecodeFn = Callable[[bytes], list[float]]

#: Output schema of the decode stage: stable across decoders so downstream
#: feature pipelines bind to one shape.
DECODE_SCHEMA = (
    "id long, n_bytes long, features array<double>, decode_error string"
)


def attach_binary(
    df: DataFrame,
    source_col: str,
    *,
    content_col: str = "content",
    format_name: str = "bin",
) -> DataFrame:
    """Materialise a string column as a binary payload + metadata struct.

    (Test/demo path — production data arrives with real bytes; the point is
    that everything downstream sees only ``binary`` + ``meta``.)
    """
    content = F.encode(F.col(source_col), "utf-8")
    return df.withColumn(content_col, content).withColumn(
        "meta",
        F.struct(
            F.lit(format_name).alias("format"),
            F.length(content).cast("long").alias("n_bytes"),
            F.md5(content).alias("content_hash"),
        ),
    )


def binary_meta(
    df: DataFrame, id_col: str, content_col: str = "content"
) -> DataFrame:
    """Byte-level metadata of a binary column — JVM expressions only."""
    content = F.col(content_col)
    return df.select(
        F.col(id_col),
        F.length(content).cast("long").alias("n_bytes"),
        F.md5(content).alias("content_hash"),
    )


def fake_decoder(payload: bytes) -> list[float]:
    """Deterministic stand-in for a codec: cheap byte statistics.

    Returns [n_bytes, mean_byte, min_byte, max_byte] — enough to verify the
    Arrow plumbing end to end without an image/audio library. Vectorised
    over the payload (numpy byte view, exact int64 sum, then ONE double
    division — bit-identical to the pure-Python float path, ~10x less
    per-payload CPU)."""
    if not payload:
        return [0.0, 0.0, 0.0, 0.0]
    import numpy as np

    a = np.frombuffer(payload, dtype=np.uint8)
    n = a.size
    return [
        float(n),
        float(int(a.sum(dtype=np.int64))) / n,
        float(a.min()),
        float(a.max()),
    ]


def codec_decoder(payload: bytes) -> list[float]:
    """Real codec hook — STUB.

    Image/audio/video decoding needs a codec library (Pillow/ffmpeg/...)
    that is not available in this environment. Inject a real callable as
    ``decoder=`` in :func:`decode_binary`; this default exists so the
    missing capability fails loudly, not silently.
    """
    raise NotImplementedError(
        "no codec library available: pass decoder= to decode_binary "
        "(e.g. a Pillow/ffmpeg-backed callable); fake_decoder exercises the "
        "plumbing deterministically"
    )


def decode_binary(
    df: DataFrame,
    id_col: str,
    *,
    content_col: str = "content",
    decoder: DecodeFn = codec_decoder,
) -> DataFrame:
    """Decode binary payloads to feature vectors via Arrow-batched Python.

    ``mapInPandas``: each Arrow batch arrives as a pandas DataFrame, the
    decoder runs per payload, failures are captured per-row in
    ``decode_error`` (one bad asset never fails a task). Only (id, content)
    are shipped to Python — project before decode so the Arrow transfer
    carries no dead columns.
    """
    narrow = df.select(
        F.col(id_col).cast("long").alias("id"), F.col(content_col).alias("c")
    )

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids, sizes, feats, errs = [], [], [], []
            for rid, payload in zip(batch["id"], batch["c"]):
                raw = bytes(payload) if payload is not None else b""
                ids.append(rid)
                sizes.append(len(raw))
                try:
                    feats.append(decoder(raw))
                    errs.append(None)
                except NotImplementedError:
                    # missing CAPABILITY (the codec stub) aborts loudly —
                    # containing it per-row would let a run with no codec
                    # "succeed" with every row errored; only per-ROW data
                    # errors are contained below
                    raise
                except Exception as exc:  # per-row containment
                    feats.append(None)
                    errs.append(f"{type(exc).__name__}: {exc}")
            yield pd.DataFrame(
                {
                    "id": ids,
                    "n_bytes": sizes,
                    "features": feats,
                    "decode_error": errs,
                }
            )

    return narrow.mapInPandas(_decode, schema=DECODE_SCHEMA)


def sample_frames(
    df: DataFrame,
    id_col: str,
    *,
    content_col: str = "content",
    every_n: int = 32,
) -> DataFrame:
    """Frame sampling for video payloads — STUB (needs a container parser).

    The Spark-side contract is settled (explode one asset row into
    ``(id, frame_index, frame_bytes)``); the byte-level frame splitter
    requires a media library unavailable here.
    """
    raise NotImplementedError(
        "video frame sampling requires a media container parser; the "
        "operator contract is (id, frame_index, frame_bytes) via mapInPandas"
    )


#: Output schema of the transform stage (resize/crop/re-encode family):
#: payload out, payload-sized metadata, per-row error containment.
TRANSFORM_SCHEMA = (
    "id long, content binary, n_bytes long, transform_error string"
)

TransformFn = Callable[[bytes], bytes]


def fake_resizer(target_bytes: int = 64) -> TransformFn:
    """Deterministic stand-in for an image/audio resize: truncate-or-pad
    the payload to ``target_bytes`` (keeps the plumbing — batch shapes,
    schema, error containment — real and testable without codec libs)."""

    def _resize(payload: bytes) -> bytes:
        return payload[:target_bytes].ljust(target_bytes, b"\0")

    return _resize


def codec_resizer(payload: bytes) -> bytes:
    """Real resize/transcode — STUB: no codec library in this container.

    Inject a Pillow/ffmpeg-backed callable as ``transform=`` in
    :func:`transform_binary`; the loud failure keeps the missing
    capability explicit.
    """
    raise NotImplementedError(
        "no codec library available: pass transform= to transform_binary "
        "(e.g. a Pillow resize); fake_resizer exercises the plumbing "
        "deterministically"
    )


def transform_binary(
    df: DataFrame,
    id_col: str,
    *,
    content_col: str = "content",
    transform: TransformFn = codec_resizer,
) -> DataFrame:
    """Payload-to-payload transform (resize / crop / re-encode) via
    Arrow-batched Python — the write-side twin of :func:`decode_binary`:
    same narrow (id, content) projection before the Arrow hop, same
    per-row error containment, but emitting BYTES so the result can be
    written straight back as a multimodal column.
    """
    narrow = df.select(
        F.col(id_col).cast("long").alias("id"), F.col(content_col).alias("c")
    )

    def _transform(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids, outs, sizes, errs = [], [], [], []
            for rid, payload in zip(batch["id"], batch["c"]):
                raw = bytes(payload) if payload is not None else b""
                ids.append(rid)
                try:
                    out = transform(raw)
                    outs.append(out)
                    sizes.append(len(out))
                    errs.append(None)
                except NotImplementedError:
                    # missing CAPABILITY (the codec stub) aborts loudly;
                    # only per-ROW data errors are contained below
                    raise
                except Exception as exc:  # per-row containment
                    outs.append(None)
                    sizes.append(0)
                    errs.append(f"{type(exc).__name__}: {exc}")
            yield pd.DataFrame(
                {
                    "id": ids,
                    "content": outs,
                    "n_bytes": sizes,
                    "transform_error": errs,
                }
            )

    return narrow.mapInPandas(_transform, schema=TRANSFORM_SCHEMA)
