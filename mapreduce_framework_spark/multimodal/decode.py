"""Binary decode / feature-extraction stages over multimodal columns.

Batch shape: each ``mapInPandas`` batch is a pandas DataFrame with a
``payload`` (bytes) column; output adds typed metadata columns.  At
scale, payload partitions are sized by ``maxPartitionBytes`` so a batch
of decoded frames fits executor memory; CPU-heavy codecs get
``spark.task.cpus`` > 1 rather than bigger batches.

The real codec path is stubbed (container has no PIL/ffmpeg — see
package docstring); ``fake_image_meta`` is the deterministic stand-in
keeping every seam (schema, Arrow transfer, batching) real.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

IMAGE_META_SCHEMA = (
    "doc_id long, n_bytes long, width int, height int, format string"
)


def pil_available() -> bool:
    """True when a real imaging library is importable in this
    environment (auto-detected; this container ships none, so the
    deterministic fake is the default everywhere tests run)."""
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def decode_image_real(payload: bytes) -> dict:
    """Real image decode via PIL.  Raises ImportError when no imaging
    library is present (use :func:`pil_available` / ``codec='auto'`` on
    :func:`decode_images` to fall back to the deterministic fake)."""
    import io

    from PIL import Image

    with Image.open(io.BytesIO(payload)) as im:
        return {
            "width": int(im.width),
            "height": int(im.height),
            "format": (im.format or "unknown").lower(),
        }


def make_real_decoder():
    """PIL-backed batch decoder with the same schema as the fake.
    Payloads PIL can't parse fall back to the fake's length-derived
    metadata with format 'undecodable' — a 100 TB corpus always
    contains corrupt blobs, and a codec stage must degrade per-row,
    never fail the task."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                try:
                    meta = decode_image_real(bytes(payload))
                    rows.append((doc_id, n, meta["width"], meta["height"], meta["format"]))
                except Exception:
                    rows.append((doc_id, n, int(n % 256), int(n // 256 + 1), "undecodable"))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_bytes", "width", "height", "format"]
            ).astype({"width": "int32", "height": "int32"})

    return decode_batches


def make_fake_decoder():
    """Deterministic fake decode, built as a closure (pickles by value
    → executors don't need this package).  'Decodes' a payload into
    (width, height) = (n % 256, n // 256 + 1) purely from byte length."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf["payload"].map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n,
                    "width": (n % 256).astype("int32"),
                    "height": (n // 256 + 1).astype("int32"),
                    "format": "fake/raw",
                }
            )

    return decode_batches


def decode_images(payloads: DataFrame, codec: str = "fake") -> DataFrame:
    """payloads(doc_id long, payload binary) → typed image metadata via
    Arrow-batched mapInPandas.

    ``codec``: 'fake' (deterministic, oracle-checkable — the registered
    query uses this so results never depend on the environment), 'real'
    (PIL, raises if absent), or 'auto' (real when PIL imports, fake
    otherwise — the production default)."""
    if codec == "auto":
        codec = "real" if pil_available() else "fake"
    fn = make_real_decoder() if codec == "real" else make_fake_decoder()
    return payloads.mapInPandas(fn, schema=IMAGE_META_SCHEMA)


FRAME_SCHEMA = "doc_id long, frame_idx int, ts_ms long, frame_bytes long"
FRAME_STEP_MS = 40
MAX_FRAMES = 5


def make_fake_frame_sampler():
    """Deterministic fake video frame-sampler: emits ROWS-PER-INPUT
    (1 + n_bytes // 1000, capped) 'frames' per payload — the expand
    shape of real frame sampling, where one mapInPandas input row
    yields many output rows.  Closure → pickles by value."""

    def sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out_doc, out_idx, out_ts, out_len = [], [], [], []
        for pdf in batches:
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                frames = min(n // 1000 + 1, MAX_FRAMES)
                for i in range(frames):
                    out_doc.append(doc_id)
                    out_idx.append(i)
                    out_ts.append(i * FRAME_STEP_MS)
                    out_len.append(n)
        yield pd.DataFrame(
            {
                "doc_id": pd.array(out_doc, dtype="int64"),
                "frame_idx": pd.array(out_idx, dtype="int32"),
                "ts_ms": pd.array(out_ts, dtype="int64"),
                "frame_bytes": pd.array(out_len, dtype="int64"),
            }
        )

    return sample_batches


def sample_frames(payloads: DataFrame) -> DataFrame:
    """payloads(doc_id, payload binary) → one row per sampled frame.
    Real implementation plugs ffmpeg/pyav into the same seam; the
    1→N row expansion, Arrow batching and schema are the real thing."""
    return payloads.mapInPandas(make_fake_frame_sampler(), schema=FRAME_SCHEMA)


AUDIO_FEATURE_SCHEMA = "doc_id long, duration_ms long, features array<float>"
N_AUDIO_FEATURES = 8


def make_fake_audio_featurizer():
    """Deterministic fake audio featurizer: fixed-size float vector per
    payload (byte-histogram moments stand in for MFCCs).  The
    array<float> output column is the exact shape an embedding /
    downstream ANN stage consumes."""

    def feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        docs, durs, feats = [], [], []
        for pdf in batches:
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                docs.append(doc_id)
                durs.append(n * 8)  # fake: 8 ms per byte
                feats.append(
                    [float((n >> k) & 0xFF) / 255.0 for k in range(N_AUDIO_FEATURES)]
                )
        yield pd.DataFrame(
            {
                "doc_id": pd.array(docs, dtype="int64"),
                "duration_ms": pd.array(durs, dtype="int64"),
                "features": feats,
            }
        )

    return feature_batches


def extract_audio_features(payloads: DataFrame) -> DataFrame:
    """payloads(doc_id, payload binary) → fixed-width feature vector.
    Swap the closure for librosa/torchaudio in production."""
    return payloads.mapInPandas(
        make_fake_audio_featurizer(), schema=AUDIO_FEATURE_SCHEMA
    )


RESIZE_SCHEMA = (
    "doc_id long, width int, height int, out_width int, out_height int, thumb binary"
)
THUMB_MAX_SIDE = 64


def make_fake_resizer():
    """Deterministic fake image resize: aspect-preserving target dims
    from the fake decoder's (width, height), 'thumbnail' = payload
    truncated to out_width*out_height bytes.  Real path: PIL
    Image.thumbnail in the same closure — the binary-in/binary-out
    column shape and Arrow batching are what production swaps onto."""

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        docs, ws, hs, ows, ohs, thumbs = [], [], [], [], [], []
        for pdf in batches:
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                w, h = int(n % 256), int(n // 256 + 1)
                # Integer arithmetic only: float scale factors round
                # differently across engines (Python int() truncates,
                # SQL CAST rounds) and would break oracle parity.
                m = max(w, h)
                if m > THUMB_MAX_SIDE:
                    ow = max((w * THUMB_MAX_SIDE) // m, 1)
                    oh = max((h * THUMB_MAX_SIDE) // m, 1)
                else:
                    ow, oh = max(w, 1), max(h, 1)
                docs.append(doc_id)
                ws.append(w); hs.append(h); ows.append(ow); ohs.append(oh)
                thumbs.append(bytes(payload[: ow * oh]))
        yield pd.DataFrame(
            {
                "doc_id": pd.array(docs, dtype="int64"),
                "width": pd.array(ws, dtype="int32"),
                "height": pd.array(hs, dtype="int32"),
                "out_width": pd.array(ows, dtype="int32"),
                "out_height": pd.array(ohs, dtype="int32"),
                "thumb": thumbs,
            }
        )

    return resize_batches


def resize_images(payloads: DataFrame) -> DataFrame:
    """payloads(doc_id, payload binary) → resized-thumbnail rows
    (binary out column — sinks back to parquet losslessly)."""
    return payloads.mapInPandas(make_fake_resizer(), schema=RESIZE_SCHEMA)


FINGERPRINT_SCHEMA = "doc_id long, fp60 long"


def fingerprint_payloads(payloads: DataFrame) -> DataFrame:
    """Content fingerprint over the binary lane: 60-bit digest of the
    raw payload bytes, computed batch-wise in the Arrow path — the seam
    where a REAL perceptual hash (resize→DCT→sign bits) plugs in; the
    stand-in is a cryptographic digest, so equal fingerprints mean
    equal payloads (exact-duplicate tier only — Hamming neighborhoods
    are deliberately NOT faked, random digest bits would make them
    meaningless).  Closure ships by value; executors never import this
    package."""
    import hashlib

    from collections.abc import Iterator as _It

    import pandas as _pd

    def fp_batches(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in batches:
            fps = [
                int(hashlib.md5(bytes(p)).hexdigest()[:15], 16)
                for p in pdf["payload"]
            ]
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "fp60": fps})

    return payloads.mapInPandas(fp_batches, schema=FINGERPRINT_SCHEMA)
