"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, processed via Arrow-batched mapInPandas.

The decode step itself (PIL/ffmpeg are not in this container) is
stubbed behind a deterministic fake clearly marked below; everything
Spark-side — schema, batch iteration, partitioning, output shape — is
real and is what would carry a 100 TB media corpus: binary columns
stay columnar end-to-end, Python sees Arrow batches (not rows), and
the per-partition iterator keeps memory bounded.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

MEDIA_META_SCHEMA = (
    "image_path string, doc_id bigint, width int, height int, "
    "format string, feature array<float>"
)


def _fake_decode(content: bytes) -> tuple[int, int, str]:
    """STUB: deterministic fake for image decode (no PIL here).

    Derives (width, height, format) from the byte content so tests are
    stable. Replace with PIL.Image.open in a real deployment.
    """
    if content is None or len(content) == 0:
        return (0, 0, "empty")
    w = 64 + (content[0] % 8) * 32
    h = 64 + (content[-1] % 8) * 32
    return (w, h, "png" if content[:4] == b"\x89PNG" else "raw")


def _fake_feature(content: bytes, dim: int = 8) -> list[float]:
    """STUB: deterministic fake embedding from bytes (byte histogram)."""
    if not content:
        return [0.0] * dim
    buckets = [0] * dim
    for by in content[:4096]:
        buckets[by % dim] += 1
    total = float(sum(buckets)) or 1.0
    return [b / total for b in buckets]


def _fake_frame_sample(content: bytes, every_n: int = 10) -> list[int]:
    """STUB: deterministic fake video frame sampling (no ffmpeg):
    derives a frame count from content length and returns sampled
    frame indices — the real implementation yields one row per
    sampled frame with a binary frame column."""
    if not content:
        return []
    n_frames = max(1, len(content) // 256)
    return list(range(0, n_frames, every_n))


def sample_video_frames(blobs: DataFrame, every_n: int = 10) -> DataFrame:
    """video blobs → one row per sampled frame index (flatMap shape:
    a batch in, variable rows out — the mapInPandas contract that a
    real frame extractor needs)."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            paths, idxs = [], []
            for path, content in zip(pdf["image_path"], pdf["content"]):
                for i in _fake_frame_sample(content, every_n):
                    paths.append(path)
                    idxs.append(i)
            yield pd.DataFrame({
                "video_path": pd.Series(paths, dtype="string"),
                "frame_index": pd.Series(idxs, dtype="int64"),
            })

    return blobs.mapInPandas(
        _sample, schema="video_path string, frame_index bigint"
    )


def _fake_audio_decode(content: bytes) -> tuple[int, int, float]:
    """STUB: deterministic fake audio header parse (no soundfile/
    librosa here): derives (sample_rate, n_samples, duration_s) from
    the bytes. Replace with soundfile.read in a real deployment."""
    if not content:
        return (0, 0, 0.0)
    rate = 16000 if content[0] % 2 == 0 else 44100
    n_samples = len(content) * 4
    return (rate, n_samples, round(n_samples / rate, 4))


def extract_audio_features(blobs: DataFrame, dim: int = 8) -> DataFrame:
    """audio blobs → typed metadata (sample rate / duration) + a
    fixed-dim feature vector (mel-spectrogram stand-in: the byte
    histogram stub). Same Arrow-batched shape as the image path —
    audio stays an opaque binary column until this operator."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = pdf["content"].map(_fake_audio_decode)
            yield pd.DataFrame({
                "audio_path": pdf["image_path"],
                "sample_rate": meta.map(lambda m: m[0]).astype("int32"),
                "n_samples": meta.map(lambda m: m[1]).astype("int64"),
                "duration_s": meta.map(lambda m: m[2]).astype("float64"),
                "feature": pdf["content"].map(
                    lambda c: _fake_feature(c, dim)
                ),
            })

    return blobs.mapInPandas(
        _decode,
        schema=("audio_path string, sample_rate int, n_samples bigint, "
                "duration_s double, feature array<float>"),
    )


def _fake_phash(content: bytes) -> int:
    """STUB: deterministic fake perceptual hash (no PIL/scipy DCT in
    this container): the top 60 bits of the content prefix. A real
    deployment swaps in DCT pHash over the decoded image; 60 bits
    keeps the value inside a signed 64-bit long for engine parity."""
    if not content:
        return 0
    return int.from_bytes(content[:8].ljust(8, b"\0"), "big") >> 4


def phash_images(blobs: DataFrame) -> DataFrame:
    """image blobs → 60-bit perceptual hash (image_path, phash):
    the binary-modality twin of the text content_hash — identical
    media bytes (or, with a real pHash, perceptually-identical
    images) collide, so exact media dedup is a linear groupBy on
    phash downstream. Same Arrow-batched mapInPandas shape as
    decode_images; the binary column never leaves the JVM except as
    Arrow batches."""

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "image_path": pdf["image_path"],
                "phash": pdf["content"].map(_fake_phash).astype("int64"),
            })

    return blobs.mapInPandas(
        _hash, schema="image_path string, phash bigint"
    )


def decode_images(blobs: DataFrame) -> DataFrame:
    """binary blobs → typed media metadata + feature vector.

    mapInPandas: Arrow batches in, bounded-memory iterator out — the
    Spark-correct shape for Python-side media work.
    """

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = pdf["content"].map(_fake_decode)
            yield pd.DataFrame(
                {
                    "image_path": pdf["image_path"],
                    "doc_id": pdf["image_path"].str.extract(
                        r"documents/(\d+)/"
                    )[0].astype("int64"),
                    "width": meta.map(lambda m: m[0]).astype("int32"),
                    "height": meta.map(lambda m: m[1]).astype("int32"),
                    "format": meta.map(lambda m: m[2]),
                    "feature": pdf["content"].map(_fake_feature),
                }
            )

    return blobs.mapInPandas(_decode, schema=MEDIA_META_SCHEMA)
