"""Multimodal column plumbing: image/audio/video as opaque BINARY columns
with typed metadata, processed by Arrow-batched ``mapInPandas``.

No reference analogue (the reference is tabular-only); this is the
training-data-pipeline surface for multimodal corpora. The Spark-side
plumbing — schema, partition-parallel mapInPandas, batch shapes, metadata
extraction — is real and tested; the actual codec work is STUBBED behind
``DecoderRegistry`` because no image/audio libraries exist in this container:
the default decoder is a deterministic fake (parses the synthetic header
below); swapping in Pillow/torchaudio is a one-line registry change on a
real cluster.

Synthetic blob format (deterministic, used by tests):
  b"FAKEIMG1" + width:4LE + height:4LE + channels:1 + payload
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MEDIA_SCHEMA_DDL = (
    "media_id bigint, kind string, blob binary, mime string"
)

FAKE_MAGIC = b"FAKEIMG1"


def make_fake_image(media_id: int, width: int, height: int,
                    channels: int = 3) -> bytes:
    payload_len = min(width * height * channels, 64)
    rng = np.random.RandomState(media_id % (2**31))
    payload = rng.bytes(payload_len)
    return (FAKE_MAGIC + struct.pack("<IIB", width, height, channels)
            + payload)


def _decode_fake(blob: bytes) -> dict:
    """Deterministic stand-in for a real image decode."""
    if blob is None or not blob.startswith(FAKE_MAGIC):
        raise ValueError("unknown media format")
    w, h, c = struct.unpack_from("<IIB", blob, len(FAKE_MAGIC))
    return {"width": int(w), "height": int(h), "channels": int(c)}


def _decode_real(blob: bytes) -> dict:
    """Real decoder slot — wire Pillow / torchaudio / pyav here on a real
    cluster. Deliberately unimplemented in this container."""
    raise NotImplementedError(
        "real media decoding requires image/audio libraries not present "
        "in this environment; register one via DecoderRegistry.register")


class DecoderRegistry:
    _decoders: dict[str, Callable[[bytes], dict]] = {
        "fake-image": _decode_fake,
        "image": _decode_real,
        "audio": _decode_real,
        "video": _decode_real,
    }

    @classmethod
    def register(cls, kind: str, fn: Callable[[bytes], dict]) -> None:
        cls._decoders[kind] = fn

    @classmethod
    def get(cls, kind: str) -> Callable[[bytes], dict]:
        return cls._decoders[kind]


MEDIA_META_SCHEMA = (
    "media_id bigint, kind string, mime string, n_bytes bigint, "
    "width int, height int, channels int, decode_ok boolean"
)


def extract_media_metadata(df: DataFrame) -> DataFrame:
    """Partition-parallel metadata extraction over the binary column.

    mapInPandas keeps the blob in Arrow buffers end-to-end (no per-row
    Python UDF); output drops the blob so downstream stages never carry it.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": pdf["media_id"], "kind": pdf["kind"],
                "mime": pdf["mime"],
                "n_bytes": pdf["blob"].map(
                    lambda b: len(b) if b is not None else 0).astype("int64"),
            }
            metas = []
            for kind, blob in zip(pdf["kind"], pdf["blob"]):
                try:
                    metas.append(DecoderRegistry.get(kind)(blob))
                except (NotImplementedError, ValueError, KeyError):
                    metas.append(None)
            out["width"] = pd.array(
                [m["width"] if m else None for m in metas], dtype="Int32")
            out["height"] = pd.array(
                [m["height"] if m else None for m in metas], dtype="Int32")
            out["channels"] = pd.array(
                [m["channels"] if m else None for m in metas], dtype="Int32")
            out["decode_ok"] = [m is not None for m in metas]
            yield pd.DataFrame(out)

    return df.mapInPandas(_extract, schema=MEDIA_META_SCHEMA)


def extract_media_features(df: DataFrame, dim: int = 16) -> DataFrame:
    """Feature-extraction stage: blob → dense feature vector (the CLIP/VGG
    embedding slot), batched per Arrow chunk as one numpy matrix.

    The featurizer here is a DETERMINISTIC fake (payload-byte histogram
    folded to ``dim`` and L2-normalized — a real per-blob function of the
    bytes, so identical blobs give identical features and the downstream
    similarity ops behave like they would with a real model). Swap the
    `_featurize` body for a real encoder on a real cluster; everything else
    (schema, batch shape, Arrow transfer, output feeding
    operators.similarity) is production plumbing.
    """

    def _featurize(batch: pd.Series) -> np.ndarray:
        mats = np.zeros((len(batch), dim), dtype=np.float64)
        for i, blob in enumerate(batch):
            if blob is None:
                continue
            a = np.frombuffer(bytes(blob), dtype=np.uint8).astype(np.float64)
            hist = np.bincount((np.arange(len(a)) % dim), weights=a,
                               minlength=dim)
            n = np.linalg.norm(hist)
            mats[i] = hist / n if n > 0 else hist
        return mats

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            m = _featurize(pdf["blob"])
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "feature": [row.tolist() for row in m],
            })

    return df.mapInPandas(
        _extract, schema="media_id bigint, kind string, feature array<double>")
