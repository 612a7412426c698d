"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are carried as ``binary`` columns with typed
metadata alongside; heavy per-item work (decode, resize, feature-extract,
frame-sample) runs as Arrow-batched ``mapInPandas`` stages. The decode
libraries are NOT in this container, so the decoder is pluggable:

* ``fake_decoder`` — deterministic stand-in (derives "pixels" from the
  payload bytes) used by tests to validate the plumbing: schema, batch
  shape, partitioning, null handling.
* a real decoder (PIL/ffmpeg) drops into the same ``decode_udf`` signature
  unchanged; ``require_real_decoder`` raises NotImplementedError with a
  clear message if called here.

The synthetic manifest derives payloads from document text (md5 -> bytes) so
everything stays deterministic with no external data.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import pyworker

MANIFEST_SCHEMA = (
    "item_id long, modality string, payload binary, width int, height int, "
    "n_frames int"
)


def synth_manifest(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Deterministic multimodal manifest from the documents table: payload =
    md5 bytes of the text; metadata derived from hash ints."""
    h = F.md5(F.col(text_col))
    hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    modality = (
        F.when(F.col(id_col) % 3 == 0, "image")
        .when(F.col(id_col) % 3 == 1, "audio")
        .otherwise("video")
    )
    return docs.select(
        F.col(id_col).alias("item_id"),
        modality.alias("modality"),
        F.unhex(h).alias("payload"),
        (hi % 1920 + 16).cast("int").alias("width"),
        ((hi / 1920).cast("long") % 1080 + 16).cast("int").alias("height"),
        (hi % 240 + 1).cast("int").alias("n_frames"),
    )


def fake_decoder(payload: bytes, width: int, height: int) -> list[int]:
    """Deterministic 'decode': 8 pseudo-pixels from payload bytes. Stands in
    for PIL.Image.open(...)/resize in this container."""
    if payload is None:
        return []
    return [payload[i % len(payload)] for i in range(8)]


def require_real_decoder(*_args, **_kwargs):
    raise NotImplementedError(
        "real image/audio decode requires PIL/ffmpeg, not present in this "
        "container; inject a decoder with decode_features(decoder=...)"
    )


def decode_features(
    manifest: DataFrame,
    decoder: Callable[[bytes, int, int], list[int]] = fake_decoder,
    batch_hint: int | None = None,
) -> DataFrame:
    """mapInPandas decode/feature-extract stage.

    Output: (item_id, modality, n_bytes, feat array<int>, feat_mean double).
    The stage is stateless and map-only; payload bytes never leave the
    executor (only features do) — at 100 TB this is the pattern that keeps
    the shuffle tiny while the scan carries the weight."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pyworker.install()
        for pdf in batches:
            feats = []
            for payload, w, h in zip(pdf["payload"], pdf["width"], pdf["height"]):
                feats.append(decoder(payload, int(w), int(h)))
            out = pd.DataFrame(
                {
                    "item_id": pdf["item_id"],
                    "modality": pdf["modality"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "feat": feats,
                    "feat_mean": [
                        (sum(f) / len(f)) if f else None for f in feats
                    ],
                }
            )
            yield out

    return manifest.select(
        "item_id", "modality", "payload", "width", "height"
    ).mapInPandas(
        run,
        "item_id long, modality string, n_bytes int, feat array<int>, "
        "feat_mean double",
    )


def frame_sample(manifest: DataFrame, every: int = 30) -> DataFrame:
    """(item_id, frame_idx): deterministic frame sampling for video items —
    pure relational explode of a sequence (no decode needed for planning)."""
    return (
        manifest.filter(F.col("modality") == "video")
        .select(
            "item_id",
            F.explode(
                F.sequence(
                    F.lit(0), F.col("n_frames") - 1, F.lit(every)
                )
            ).alias("frame_idx"),
        )
    )
