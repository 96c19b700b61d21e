"""Multimodal columns — SURVEY.md §2.3 E5.

Media (image/audio/video) are opaque ``binary`` columns with a typed
metadata struct, processed by Arrow-batched ``mapInPandas`` operators.
The decode step is selected BY CAPABILITY at runtime: when Pillow is
importable and a payload's mime marks a real image (``image/*``),
``PILImageDecoder`` decodes the actual pixels; otherwise the
deterministic byte-derived fake keeps the pipeline runnable with no
media libs installed (this container has none). Everything around the
decode — schema, batch iteration, partitioning, UDF signatures — is
the real 100 TB plumbing either way:

- media rows are large → ``spark.sql.files.maxPartitionBytes`` and a
  repartition on ingest keep a batch's decoded payloads within
  executor memory;
- decode/feature-extract is per-row independent → mapInPandas, no
  shuffle, and the iterator contract means only one Arrow batch of
  decoded frames is alive at a time;
- downstream joins (features ⋈ documents/embeddings) are ordinary
  equi-joins on the id.
"""

from __future__ import annotations

import io
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Typed metadata carried alongside every media payload.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = "media_id long, kind string, n_bytes long, feature array<double>"


def _load_pil():
    """Availability probe for Pillow. Module-level so the result is
    computed once per Python worker, not per batch."""
    try:
        from PIL import Image  # noqa: PLC0415

        return Image
    except ImportError:
        return None


_PIL_IMAGE = _load_pil()


class DeterministicFakeDecoder:
    """No-deps stand-in for the pixel decode: derives a fixed-length
    feature from the payload bytes, deterministically. Selected by
    ``select_decoder`` whenever Pillow is absent or the payload is not
    a real image — keeps the full pipeline runnable in lib-less
    containers (like this one) and over synthetic fixtures."""

    DIM = 8

    @staticmethod
    def decode(payload: bytes | None) -> list[float]:
        if payload is None:
            raise NotImplementedError(
                "real media decode requires PIL/torchaudio/av — not in this container"
            )
        # deterministic byte-histogram-ish feature. Vectorized (guide
        # §4.2: native batch work inside the Python boundary): lane k =
        # Σ payload[i] over i ≡ k (mod DIM). Byte values are integers,
        # so the lane sums are EXACT in int64/float64 no matter the
        # summation order — bit-identical to the sequential per-byte
        # fold this replaces (which was ~len(payload) interpreted ops
        # per row, the dominant cost of the e5 decode path).
        a = np.frombuffer(payload, dtype=np.uint8)
        n = max(a.size, 1)
        pad = (-a.size) % DeterministicFakeDecoder.DIM
        if pad:
            a = np.concatenate([a, np.zeros(pad, dtype=np.uint8)])
        acc = a.reshape(-1, DeterministicFakeDecoder.DIM).sum(
            axis=0, dtype=np.int64
        )
        return [v / n for v in acc.tolist()]


class PILImageDecoder:
    """Real image decode via Pillow: payload bytes → pixels → a
    DIM-length luminance profile (grayscale, resized to DIM×1). Same
    output shape as the fake so the two are plug-compatible; selected
    by ``select_decoder`` when Pillow is importable and the mime is
    ``image/*``."""

    DIM = DeterministicFakeDecoder.DIM

    @staticmethod
    def decode(payload: bytes | None) -> list[float]:
        if payload is None:
            raise NotImplementedError("no payload to decode")
        if _PIL_IMAGE is None:
            raise NotImplementedError("Pillow is not installed in this environment")
        img = _PIL_IMAGE.open(io.BytesIO(bytes(payload)))
        return PILImageDecoder.feature_from_image(img)

    @staticmethod
    def feature_from_image(img) -> list[float]:
        """Pixel → feature step, split out so it is unit-testable with
        a stub image object (the container has no Pillow)."""
        g = img.convert("L").resize((PILImageDecoder.DIM, 1))
        return [float(v) for v in list(g.getdata())]


def select_decoder(mime: str | None):
    """Capability-based decode dispatch: real pixels when we can
    (Pillow present + ``image/*`` payload), deterministic fake when we
    can't. Per-row because mime is data, not plan."""
    if _PIL_IMAGE is not None and mime and mime.startswith("image/"):
        return PILImageDecoder
    return DeterministicFakeDecoder


def decode_with_fallback(mime: str | None, payload: bytes | None) -> list[float]:
    """Per-row decode with corruption tolerance: a payload whose mime
    claims ``image/*`` but whose bytes Pillow rejects (truncated,
    mislabeled — the norm in a web-scale crawl) falls back to the
    deterministic byte feature instead of failing the whole task/stage.
    Null payloads still raise — that is a schema error, not dirty
    data."""
    dec = select_decoder(mime)
    if dec is PILImageDecoder:
        try:
            return dec.decode(payload)
        except NotImplementedError:
            raise
        except Exception:  # noqa: BLE001 — codec errors vary by format
            return DeterministicFakeDecoder.decode(payload)
    return dec.decode(payload)


def synth_media(documents: DataFrame, kind: str = "image") -> DataFrame:
    """Deterministic fake media table derived from documents: payload =
    utf-8 bytes of the text (stands in for encoded pixels). Gives the
    plumbing real, content-dependent bytes to chew on."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.col("doc_id"),
        F.lit(kind).alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("application/x-fake").alias("mime"),
            F.lit(64).cast("int").alias("width"),
            F.lit(64).cast("int").alias("height"),
            (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def extract_features(media: DataFrame, batch_size_hint: int = 256) -> DataFrame:
    """Decode + feature-extract every media row via mapInPandas.

    The Arrow batch iterator is the memory-safety contract: at most one
    batch of decoded payloads lives per task. At 100 TB you also
    repartition upstream so each task's input stays ~128 MB of payload.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mimes = (
                [(m or {}).get("mime") for m in pdf["meta"]]
                if "meta" in pdf.columns
                else [None] * len(pdf)
            )
            feats = [
                decode_with_fallback(mime, p)
                for mime, p in zip(mimes, pdf["payload"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "feature": feats,
                }
            )

    return media.mapInPandas(_extract, schema=FEATURE_SCHEMA)


def resize_images(media: DataFrame, width: int = 32, height: int = 32) -> DataFrame:
    """Image resize over binary payloads (mapInPandas). Real Pillow
    resample (grayscale raw bytes out) when the library is present and
    the payload mime is ``image/*``; otherwise a deterministic fake
    that stride-samples the source bytes. Both branches emit exactly
    width*height bytes, so batch shapes, output sizes and metadata
    rewriting are identical and testable either way."""

    def _pil_resize(p: bytes) -> bytes:
        img = _PIL_IMAGE.open(io.BytesIO(bytes(p)))
        return img.convert("L").resize((width, height)).tobytes()

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_out = width * height
        for pdf in batches:
            mimes = (
                [(m or {}).get("mime") for m in pdf["meta"]]
                if "meta" in pdf.columns
                else [None] * len(pdf)
            )
            outs = []
            for mime, p in zip(mimes, pdf["payload"]):
                if p is None:
                    raise NotImplementedError("no payload to resize")
                if select_decoder(mime) is PILImageDecoder:
                    try:
                        outs.append(_pil_resize(p))
                        continue
                    except Exception:  # noqa: BLE001 — corrupt bytes: fake-resample
                        pass
                src = bytes(p)
                # deterministic fake resample: stride-sample / tile source bytes
                outs.append(bytes(src[(i * max(len(src), 1)) // n_out % len(src)] for i in range(n_out)) if src else b"\x00" * n_out)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": outs,
                    "width": [width] * len(pdf),
                    "height": [height] * len(pdf),
                }
            )

    return media.mapInPandas(
        _resize,
        schema="media_id long, kind string, payload binary, width int, height int",
    )


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling: one output row per sampled frame offset.
    Offsets come from the typed metadata (duration), the frame decode
    is the stubbed step. Pure DataFrame explode — the expensive decode
    only runs on the sampled offsets, not the full stream."""
    return media.filter(F.col("kind") == "video").select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("meta.duration_ms"), F.lit(every_ms).cast("long"))
        ).alias("frame_ms"),
    )
