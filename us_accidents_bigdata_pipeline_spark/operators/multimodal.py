"""Multimodal column plumbing (LLM-pipeline extension).

Images/audio/video travel as opaque ``binary`` columns with a typed
metadata struct; decode / feature-extraction / resize / frame-sample
run as Arrow-batched ``mapInPandas`` operators so each Python worker
processes whole record batches (the only sane shape for media blobs at
scale — one task per partition, bounded batch memory via
``maxRecordsPerBatch``).

No real codec (PIL/librosa/ffmpeg) is integrated, so
``decode_image_features`` and ``resize_images`` compute deterministic
sha256-digest stand-ins for decoded features and resized payloads —
keeping the Spark-side plumbing (schema, partitioning, UDF signature,
batch shape) real and testable, and the outputs exactly oracle-able.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, payload binary, mime string, width int, height int, "
    "duration_ms int"
)


def _fake_features(payload: bytes, dim: int) -> np.ndarray:
    """Deterministic stand-in for a decoded feature vector: bytes of the
    sha256 digest, tiled to dim, scaled to [0,1)."""
    digest = hashlib.sha256(payload or b"").digest()
    arr = np.frombuffer(digest, dtype=np.uint8)
    return (np.resize(arr, dim) / 256.0).astype(np.float64)


def decode_image_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    dim: int = 16,
) -> DataFrame:
    """binary payload → feature vector via mapInPandas.

    Output schema: (media_id long, n_bytes int, features array<double>).
    The features are the payload's sha256 digest bytes tiled to ``dim``
    lanes and scaled to [0, 1) — a deterministic stand-in for a decoded
    image that runs the full distributed plumbing.
    """
    out_schema = f"{id_col} long, n_bytes int, features array<double>"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf[payload_col]
            feats = [_fake_features(p, dim) for p in payloads]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": payloads.map(lambda b: len(b) if b is not None else 0),
                    "features": feats,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(batches, out_schema)


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """binary payload → resized binary payload via mapInPandas.

    Output schema: (media_id long, width int, height int, n_bytes_in
    int, payload binary) — the blob-in/blob-out shape a real resizer
    has (decode → interpolate → re-encode), so downstream stages see
    the same contract a real codec would. The output payload is a
    deterministic digest-seeded ``width*height*3`` bytes, preserving
    the size arithmetic and Arrow batch shape.
    """
    out_schema = (
        f"{id_col} long, width int, height int, n_bytes_in int, payload binary"
    )
    n_out = width * height * 3

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf[payload_col]
            out = [
                bytes(
                    np.resize(
                        np.frombuffer(
                            hashlib.sha256(p or b"").digest(), dtype=np.uint8
                        ),
                        n_out,
                    )
                )
                for p in payloads
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "width": width,
                    "height": height,
                    "n_bytes_in": payloads.map(
                        lambda b: len(b) if b is not None else 0
                    ),
                    "payload": out,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(batches, out_schema)


def sample_frames(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    every_n_bytes: int = 1024,
    max_frames: int = 8,
) -> DataFrame:
    """Frame-sampling plumbing: emit up to ``max_frames`` byte-offset
    "frames" per blob (one output row per frame — a mapInPandas
    expansion, the shape a real video frame-sampler has)."""

    out_schema = f"{id_col} long, frame_no int, frame_offset long"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, frame_nos, offsets = [], [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                n = len(payload) if payload is not None else 0
                for i in range(min(max_frames, max(n // every_n_bytes, 1))):
                    ids.append(mid)
                    frame_nos.append(i)
                    offsets.append(i * every_n_bytes)
            yield pd.DataFrame(
                {id_col: ids, "frame_no": frame_nos, "frame_offset": offsets}
            )

    return df.select(id_col, payload_col).mapInPandas(batches, out_schema)


def extract_patches(
    df: DataFrame,
    width: int,
    height: int,
    patch: int = 16,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Raw RGB payload (``width*height*3`` bytes, e.g. ``resize_images``
    output) → ViT-style non-overlapping ``patch×patch`` grid with
    per-patch mean/std — the patch-embedding prep step of an image
    training pipeline. Unlike decode/resize this needs NO codec: the
    input is already a raw pixel buffer, so the numpy math here is the
    real computation on real or fake payloads alike.

    Payloads of the wrong byte length are dropped (count them upstream
    with a length filter if they matter). Output: (id, patch_id, mean,
    std), patch_id in row-major grid order. Map-only ``mapInPandas``;
    the patch reshape is one strided view + two vectorized reductions
    per image — no Python-level pixel loops.

    Numerics contract: mean/std come from the EXACT integer identity
    (mean = Σx/n, var = (n·Σx² − (Σx)²)/n²) over int64 pixel sums —
    the sums fit 2⁵³ exactly, so the only IEEE steps are one division
    and one correctly-rounded sqrt. That makes the raw doubles
    bit-identical to any engine computing the same identity (SQL
    included), which is what lets the query layer value-oracle this
    against DuckDB; population std (ddof=0), no internal rounding.
    """
    out_schema = f"{id_col} long, patch_id int, mean double, std double"
    n_px = width * height * 3
    rows_p, cols_p = height // patch, width // patch
    n_patches = rows_p * cols_p
    n = patch * patch * 3

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids: list = []
            pids: list = []
            means: list = []
            stds: list = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                if p is None or len(p) != n_px:
                    continue
                img = (
                    np.frombuffer(p, dtype=np.uint8)
                    .reshape(height, width, 3)
                    .astype(np.int64)
                )
                blocks = (
                    img[: rows_p * patch, : cols_p * patch]
                    .reshape(rows_p, patch, cols_p, patch, 3)
                    .transpose(0, 2, 1, 3, 4)
                    .reshape(n_patches, -1)
                )
                s1 = blocks.sum(axis=1)
                s2 = (blocks * blocks).sum(axis=1)
                ids.extend([mid] * n_patches)
                pids.extend(range(n_patches))
                means.extend(s1 / n)
                stds.extend(np.sqrt((n * s2 - s1 * s1) / (n * n)))
            yield pd.DataFrame(
                {id_col: ids, "patch_id": pids, "mean": means, "std": stds}
            )

    return df.select(id_col, payload_col).mapInPandas(batches, out_schema)


def byte_stats_arrow(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Per-payload byte stats via ``mapInArrow`` — the zero-copy member
    of the Python-eval family. Unlike ``mapInPandas``, batches arrive
    as Arrow RecordBatches and never convert to pandas, so large
    ``binary`` payloads skip the pandas object-array materialization
    entirely; all compute is vectorized ``pyarrow.compute`` kernels
    (C++), no per-row Python. Output: (id, n_bytes, is_empty).

    Use this shape for media-payload passes where the per-batch work is
    expressible in Arrow kernels; drop to mapInPandas only when numpy/
    pandas semantics are genuinely needed (e.g. the pixel-buffer
    reshape in ``extract_patches``). Parity with the JVM
    ``octet_length`` expression is pytest-pinned — the Arrow path must
    never disagree with the codegen path it accelerates."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def batches(it):
        for batch in it:
            ids = batch.column(0)
            n = pc.cast(pc.binary_length(batch.column(1)), pa.int64())
            yield pa.RecordBatch.from_arrays(
                [ids, n, pc.equal(n, pa.scalar(0, pa.int64()))],
                [id_col, "n_bytes", "is_empty"],
            )

    return df.select(id_col, payload_col).mapInArrow(
        batches, f"{id_col} long, n_bytes long, is_empty boolean"
    )


def audio_frame_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    frame: int = 256,
) -> DataFrame:
    """Frame-level audio features from raw PCM16LE payloads: per
    non-overlapping ``frame``-sample window, RMS energy and
    zero-crossing rate — the classic VAD/segmentation features, and
    REAL DSP (unlike the codec-gated decode steps, PCM needs no
    library: bytes → int16 is a dtype view).

    Output (id, frame_id, rms, zcr): rms = sqrt(mean(s²)) over the
    frame; zcr = sign changes / (frame-1) with s >= 0 counted as
    non-negative. A trailing partial frame is dropped. Map-only
    ``mapInPandas``; per clip the kernel is one reshape + two
    vectorized reductions, no Python sample loops.

    Exactness: samples are integers (exact in doubles), the frame
    length is a power of two (mean = sum / 2^k, an exact scaling), and
    sqrt is IEEE-correctly-rounded — so the features are bit-stable
    across engines, which is what lets the catalog oracle verify the
    BYTE DECODE + framing + math end-to-end from a SQL-reproducible
    sample formula.
    """
    out_schema = f"{id_col} long, frame_id int, rms double, zcr double"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids: list = []
            fids: list = []
            rms: list = []
            zcr: list = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                if p is None or len(p) < 2 * frame:
                    continue
                s = np.frombuffer(p, dtype="<i2")
                n_frames = len(s) // frame
                fr = (
                    s[: n_frames * frame]
                    .reshape(n_frames, frame)
                    .astype(np.float64)
                )
                ids.extend([mid] * n_frames)
                fids.extend(range(n_frames))
                rms.extend(
                    np.round(np.sqrt((fr * fr).mean(axis=1)), 6)
                )
                neg = fr < 0
                changes = (neg[:, 1:] != neg[:, :-1]).sum(axis=1)
                zcr.extend(np.round(changes / (frame - 1), 6))
            yield pd.DataFrame(
                {id_col: ids, "frame_id": fids, "rms": rms, "zcr": zcr}
            )

    return df.select(id_col, payload_col).mapInPandas(batches, out_schema)


def synth_pcm16(
    df: DataFrame,
    id_col: str,
    n_samples: int = 1024,
    out_col: str = "payload",
) -> DataFrame:
    """Deterministic PCM16LE fixture payloads: sample i of clip k is
    ((k*31 + i*17) % 65536) - 32768 — a full-range int16 sequence any
    SQL engine can reproduce with generate_series, which is what makes
    the audio DSP path oracle-checkable without shipping real audio.
    Arrow-batched packing (numpy int16 → little-endian bytes)."""
    out_schema = f"{id_col} long, {out_col} binary"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        i = np.arange(n_samples, dtype=np.int64)
        for pdf in it:
            payloads = [
                (((int(k) * 31 + i * 17) % 65536) - 32768)
                .astype("<i2")
                .tobytes()
                for k in pdf[id_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col], out_col: payloads})

    return df.select(id_col).mapInPandas(batches, out_schema)


def synth_rgb(
    df: DataFrame,
    id_col: str,
    width: int = 32,
    height: int = 32,
    out_col: str = "payload",
) -> DataFrame:
    """Deterministic raw-RGB fixture payloads: pixel (r, c, ch) of
    image k is (k*7 + r*3 + c*5 + ch*11) % 256, packed row-major
    uint8 (height, width, 3) — the SQL-reproducible pixel formula that
    lets the ViT patch path (`extract_patches`) carry a full value
    oracle instead of a rows-only check."""
    out_schema = f"{id_col} long, {out_col} binary"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        r = np.arange(height, dtype=np.int64)[:, None, None]
        c = np.arange(width, dtype=np.int64)[None, :, None]
        ch = np.arange(3, dtype=np.int64)[None, None, :]
        base = r * 3 + c * 5 + ch * 11
        for pdf in it:
            payloads = [
                (((int(k) * 7 + base) % 256).astype(np.uint8).tobytes())
                for k in pdf[id_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col], out_col: payloads})

    return df.select(id_col).mapInPandas(batches, out_schema)


def resize_raw_rgb(
    df: DataFrame,
    w_in: int,
    h_in: int,
    w_out: int,
    h_out: int,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Nearest-neighbor resize on RAW RGB buffers — unlike the
    codec-gated ``resize_images`` (which must decode JPEG/PNG first),
    a raw pixel buffer resizes with pure index math: output pixel
    (r, c) takes source (r*h_in // h_out, c*w_in // w_out). Real
    computation, no library, Arrow-batched; wrong-length payloads are
    dropped. Returns (id, payload) with the resized buffer — feed it
    to ``extract_patches`` for the verified feature path.
    """
    out_schema = f"{id_col} long, {payload_col} binary"
    n_px = w_in * h_in * 3
    rows = (np.arange(h_out, dtype=np.int64) * h_in) // h_out
    cols = (np.arange(w_out, dtype=np.int64) * w_in) // w_out

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids: list = []
            payloads: list = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                if p is None or len(p) != n_px:
                    continue
                img = np.frombuffer(p, dtype=np.uint8).reshape(
                    h_in, w_in, 3
                )
                ids.append(mid)
                payloads.append(img[rows][:, cols].tobytes())
            yield pd.DataFrame({id_col: ids, payload_col: payloads})

    return df.select(id_col, payload_col).mapInPandas(batches, out_schema)


def synth_rgb_frames(
    df: DataFrame,
    id_col: str,
    n_frames: int = 4,
    width: int = 16,
    height: int = 16,
    out_col: str = "payload",
) -> DataFrame:
    """Deterministic raw-video fixture: ``n_frames`` concatenated RGB
    frames; pixel (t, r, c, ch) of clip k is
    (k*7 + t*13 + r*3 + c*5 + ch*11) % 256 — SQL-reproducible, so the
    temporal ops downstream carry full value oracles."""
    out_schema = f"{id_col} long, {out_col} binary"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t = np.arange(n_frames, dtype=np.int64)[:, None, None, None]
        r = np.arange(height, dtype=np.int64)[None, :, None, None]
        c = np.arange(width, dtype=np.int64)[None, None, :, None]
        ch = np.arange(3, dtype=np.int64)[None, None, None, :]
        base = t * 13 + r * 3 + c * 5 + ch * 11
        for pdf in it:
            payloads = [
                (((int(k) * 7 + base) % 256).astype(np.uint8).tobytes())
                for k in pdf[id_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col], out_col: payloads})

    return df.select(id_col).mapInPandas(batches, out_schema)


def frame_diff_energy(
    df: DataFrame,
    n_frames: int,
    width: int,
    height: int,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Temporal frame-difference energy over raw concatenated RGB
    frames — the codec-free core of scene-change detection (a cut
    spikes the mean absolute inter-frame pixel difference). Returns
    (id, frame_id, diff_energy) for frame_id ≥ 1, diff_energy =
    mean |frame_t − frame_{t−1}| over all pixels/channels.

    Integer pixel differences are exact in doubles and the mean
    divides by width*height*3, so the statistic is engine-exact —
    fully oracle-checkable on formula-synthesized clips. Map-only
    mapInPandas; per clip one reshape + one vectorized |diff| pass.
    """
    out_schema = f"{id_col} long, frame_id int, diff_energy double"
    n_px = n_frames * width * height * 3

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids: list = []
            fids: list = []
            energy: list = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                if p is None or len(p) != n_px:
                    continue
                vid = (
                    np.frombuffer(p, dtype=np.uint8)
                    .reshape(n_frames, height, width, 3)
                    .astype(np.float64)
                )
                d = np.abs(np.diff(vid, axis=0)).mean(axis=(1, 2, 3))
                ids.extend([mid] * (n_frames - 1))
                fids.extend(range(1, n_frames))
                energy.extend(np.round(d, 6))
            yield pd.DataFrame(
                {id_col: ids, "frame_id": fids, "diff_energy": energy}
            )

    return df.select(id_col, payload_col).mapInPandas(batches, out_schema)


def ahash_signature(
    feats: DataFrame,
    id_col: str = "media_id",
    feature_col: str = "features",
) -> DataFrame:
    """aHash-style binary signature from a decoded feature vector:
    bit_i = 1 iff feature_i > mean(features) — the average-hash
    perceptual fingerprint (the dHash/pHash family's simplest member),
    computed RELATIONALLY over whatever ``decode_image_features``
    produced, so it needs no codec of its own.

    Exactness: with digest-fake features every lane is a dyadic
    k/256, so the lane sum is exact in any fold order, the mean is one
    IEEE division, and every bit decision is reproducible cross-engine
    — which is what makes the downstream pair join value-oracle-able.
    (With a real decoder the lanes are pixel block means — the same
    arithmetic, just not oracle-checkable without the codec.)

    The vector length must be ≤ 62 so the packed signature fits a
    non-negative BIGINT (bit 63 is the sign; bit 62 is left unused to
    keep every block value positive under any split).

    Output: (id, signature BIGINT).
    """
    withm = feats.select(
        id_col,
        feature_col,
        (
            F.aggregate(feature_col, F.lit(0.0), lambda a, x: a + x)
            / F.size(feature_col).cast("double")
        ).alias("_mean"),
    )
    # F.shiftleft needs a literal bit count, but the lambda index is a
    # Column — pow(2, i) is the column-shaped equivalent and exact
    # (powers of two are exactly representable doubles; the long cast
    # truncates nothing for i <= 61)
    bits = F.transform(
        F.col(feature_col),
        lambda x, i: F.when(
            x > F.col("_mean"),
            F.pow(F.lit(2.0), i).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    return withm.select(
        F.col(id_col),
        F.aggregate(
            bits, F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("signature"),
    )


def perceptual_near_dup_pairs(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    dim: int = 60,
    max_hamming: int = 5,
) -> DataFrame:
    """Perceptual IMAGE near-dup pairs: decode each payload to a
    ``dim``-lane feature vector, take the aHash signature, and emit
    every pair within ``max_hamming`` Hamming distance — the image
    dedup stage of a multimodal corpus funnel (re-encoded, resized or
    lightly edited copies land a few bits apart; exact byte hashes
    miss them entirely).

    The pair join REUSES the SimHash blocked-Hamming machinery
    (``dedup._blocked_hamming_pairs``): the signature splits into
    ``max_hamming + 1`` blocks, so by pigeonhole any pair within the
    budget collides on at least one block — recall 1 via a
    key-partitioned equi-join, never an all-pairs product; the
    bit_count(xor) verify is a 2-instruction projection. Same
    100 TB scale shape as the text SimHash tier.

    The features come from ``decode_image_features``' digest path, so
    the output is exactly oracle-able end to end (the lanes are sha256
    byte math).

    Output: (doc_a, doc_b, hamming) — the ``_blocked_hamming_pairs``
    contract (generic pair-column names regardless of ``id_col``).
    """
    if not (1 <= dim <= 62):
        raise ValueError(
            f"perceptual_near_dup_pairs: dim={dim} must be in [1, 62] "
            "so the packed signature stays a non-negative BIGINT"
        )
    from .dedup import _blocked_hamming_pairs

    feats = decode_image_features(
        df, payload_col=payload_col, id_col=id_col, dim=dim
    )
    sigs = ahash_signature(feats, id_col=id_col).select(
        F.col(id_col), F.col("signature").alias("simhash")
    )
    return _blocked_hamming_pairs(
        sigs, id_col, max_hamming, n_bits=dim
    )
