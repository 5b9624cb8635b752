"""Multimodal (binary) column operators.

Images/audio/video are opaque ``BinaryType`` payloads with a typed
metadata struct; heavy per-item work (decode, resize, feature
extraction, frame sampling) runs as Arrow-batched ``mapInPandas`` —
the one place Python belongs in this engine, because codec libraries
are Python/C anyway. The Spark-side contract (schemas, batch shapes,
partition behavior) is real and tested; the codec call itself is
stubbed behind ``try/except ImportError`` with a deterministic fake,
clearly marked, since image/audio libs aren't in this container.

Codec policy: each per-item kernel (``_decode_dimensions``,
``_resize_payload``) tries the real library (Pillow) first and falls
back to a clearly-marked deterministic fake when the library is absent
or the payload is undecodable; the ``decoded_real`` flag / mime tag
records which branch ran. The Spark contract — schemas, Arrow batch
shapes, partition behavior — is identical either way, so dropping the
real codecs into a production image changes no plan.

Scale notes: mapInPandas streams Arrow batches — peak memory is one
batch, not one partition; binary-heavy tables should set
``spark.sql.files.maxPartitionBytes`` so (payload x batch) fits
executor memory, and payloads should live in their own parquet column
chunk (they do, by being a separate column) so metadata-only queries
never read the bytes (column pruning).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("n_bytes", T.LongType()),
                    T.StructField("source", T.StringType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("byte_mean", T.DoubleType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("decoded_real", T.BooleanType()),
    ]
)


def as_media_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """Wrap any table into the canonical media shape by encoding a
    column as the binary payload (stand-in for image/audio bytes)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col).alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.length(payload).cast("long").alias("n_bytes"),
            F.col(source_col).alias("source"),
        ).alias("meta"),
    )


def _header_dimensions(payload: bytes) -> tuple[int, int] | None:
    """Read image dimensions from the container header with stdlib
    ``struct`` alone — no codec library needed. Supports the three
    formats whose headers carry explicit dimensions:

    - PNG: 8-byte signature, then the IHDR chunk holds width/height
      as big-endian u32 at bytes 16..24.
    - GIF (87a/89a): logical screen descriptor width/height as
      little-endian u16 at bytes 6..10.
    - JPEG: walk the marker segments to the first SOFn (baseline /
      progressive frame header); height/width are big-endian u16 at
      offsets 3/5 inside the segment.

    Returns None for anything else (undecodable -> caller's fake).
    """
    import struct

    if len(payload) >= 24 and payload[:8] == b"\x89PNG\r\n\x1a\n" and payload[12:16] == b"IHDR":
        w, h = struct.unpack(">II", payload[16:24])
        return int(w), int(h)
    if len(payload) >= 10 and payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", payload[6:10])
        return int(w), int(h)
    if len(payload) >= 4 and payload[:2] == b"\xff\xd8":
        # SOF markers: C0-CF except C4 (DHT), C8 (JPG ext), CC (DAC)
        i = 2
        while i + 9 <= len(payload):
            if payload[i] != 0xFF:
                return None
            marker = payload[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seg_len = struct.unpack(">H", payload[i + 2 : i + 4])[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 9 > len(payload):
                    return None
                h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
                return int(w), int(h)
            i += 2 + seg_len
    return None


def png_payload(width: int, height: int) -> bytes:
    """A minimal REAL grayscale PNG (8-bit, zero scanlines) built with
    stdlib ``zlib``+``struct`` only — a decodable-image fixture
    generator for tests and for deriving exact decode oracles from
    synthetic data. Any PNG reader (including ``_header_dimensions``
    and Pillow) recovers exactly (width, height)."""
    import struct
    import zlib

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = (b"\x00" + b"\x00" * width) * height  # filter byte + pixels
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def as_png_media_table(
    df: DataFrame,
    id_col: str = "doc_id",
    width_expr: str = "1 + doc_id % 64",
    height_expr: str = "1 + coalesce(n_chars, 0) % 64",
    source_col: str = "source",
) -> DataFrame:
    """Wrap a table into the media shape with REAL decodable PNG
    payloads whose dimensions derive from row columns — so a decode
    stage downstream has an exact, SQL-expressible oracle (the same
    width/height expressions in any engine). The PNG bytes are built
    per row with stdlib zlib (``png_payload``) inside Arrow-batched
    mapInPandas; both expressions must be valid ANSI SQL over the
    input columns."""
    import pandas as pd

    dims = df.selectExpr(
        f"{id_col} AS media_id",
        f"CAST({width_expr} AS INT) AS __w",
        f"CAST({height_expr} AS INT) AS __h",
        f"{source_col} AS __source",
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            payloads = [
                png_payload(int(w), int(h))
                for w, h in zip(pdf["__w"], pdf["__h"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "meta": [
                        {"mime": "image/png", "n_bytes": len(p), "source": s}
                        for p, s in zip(payloads, pdf["__source"])
                    ],
                }
            )

    return dims.mapInPandas(run, MEDIA_SCHEMA)


def _decode_dimensions(payload: bytes) -> tuple[int, int, bool]:
    """Decode payload dimensions.

    REAL branches, in order: stdlib header parsing (PNG/GIF/JPEG —
    ``_header_dimensions``, no codec library needed), then Pillow if
    importable (covers every other format Pillow knows;
    ``PIL.Image.open`` reads only the header, so it is cheap even for
    large files). Non-image payloads (like the text stand-ins parts of
    the suite use) fall to a deterministic fake derived from the
    bytes, flagged ``decoded_real=False`` so downstream can filter.
    """
    dims = _header_dimensions(payload)
    if dims is not None:
        return dims[0], dims[1], True
    try:
        import io

        import PIL.Image  # type: ignore

        try:
            with PIL.Image.open(io.BytesIO(payload)) as im:
                w, h = im.size
            return int(w), int(h), True
        except Exception:  # noqa: BLE001 — undecodable payload, fall through
            pass
    except ImportError:
        pass
    # deterministic fake: derive pseudo-dimensions from content
    w = 1 + (sum(payload[:16]) % 1024) if payload else 0
    h = 1 + (len(payload) % 768)
    return w, h, False


def extract_features(media: DataFrame, batch_size_hint: int = 1024) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload:
    byte stats (real) + decoded dimensions (stubbed fake). The
    mapInPandas iterator contract keeps memory at one Arrow batch."""
    import numpy as np
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                arr = np.frombuffer(b, dtype=np.uint8)
                w, h, real = _decode_dimensions(b)
                out.append(
                    (
                        int(media_id),
                        len(b),
                        float(arr.mean()) if len(arr) else 0.0,
                        w,
                        h,
                        real,
                    )
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in FEATURE_SCHEMA.fields]
            )

    return media.select("media_id", "payload").mapInPandas(run, FEATURE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_index", T.IntegerType(), False),
        T.StructField("frame_payload", T.BinaryType()),
        T.StructField("n_frame_bytes", T.LongType()),
    ]
)


def frame_sample(media: DataFrame, every_n: int = 4, frame_bytes: int = 64) -> DataFrame:
    """Frame sampling plumbing: one output row per sampled frame of
    each media item (a 1->N Arrow-batched flatMap — the shape a video
    pipeline needs). REAL DEMUX IS STUBBED: without ffmpeg the
    "frames" are deterministic fixed-width byte windows of the
    payload; swap the slicing loop for a demuxer without touching the
    Spark contract.

    Scale notes: output fan-out is bounded by payload size /
    (every_n * frame_bytes); frames inherit the parent's partition, so
    no shuffle — downstream per-frame work repartitions if it needs
    more parallelism.
    """
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                step = every_n * frame_bytes
                for idx, off in enumerate(range(0, len(b), step)):
                    frame = b[off : off + frame_bytes]
                    out.append((int(media_id), idx, frame, len(frame)))
            yield pd.DataFrame(out, columns=[f.name for f in FRAME_SCHEMA.fields])

    return media.select("media_id", "payload").mapInPandas(run, FRAME_SCHEMA)


def _resize_payload(payload: bytes, max_dim: int) -> tuple[bytes, str]:
    """REAL branch: Pillow decode -> thumbnail(max_dim) -> PNG
    re-encode. Fallback (no Pillow / undecodable payload): bytes
    truncated deterministically to simulate a smaller artifact."""
    try:
        import io

        import PIL.Image  # type: ignore

        try:
            with PIL.Image.open(io.BytesIO(payload)) as im:
                im.thumbnail((max_dim, max_dim))
                buf = io.BytesIO()
                im.save(buf, format="PNG")
            return buf.getvalue(), "image/png;resized"
        except Exception:  # noqa: BLE001 — undecodable, fall through
            pass
    except ImportError:
        pass
    return payload[: max(1, len(payload) // 2)], "text/plain;resized"


def resize_media(media: DataFrame, max_dim: int = 256) -> DataFrame:
    """Resize over mapInPandas: the Spark contract (media schema in,
    media schema out, meta.mime retagged, n_bytes recomputed) is real;
    the pixel work is ``_resize_payload`` (real with Pillow, a
    deterministic truncation fake without)."""
    import pandas as pd

    out_schema = MEDIA_SCHEMA

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            pdf = pdf.copy()
            resized = [
                _resize_payload(bytes(p), max_dim) if p is not None else (None, None)
                for p in pdf["payload"]
            ]
            pdf["payload"] = [p for p, _ in resized]
            pdf["meta"] = [
                {
                    "mime": mime,
                    "n_bytes": len(p) if p is not None else 0,
                    "source": (m or {}).get("source"),
                }
                for (p, mime), m in zip(resized, pdf["meta"])
            ]
            yield pdf

    return media.mapInPandas(run, out_schema)


BYTE_CLASS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("n_ascii", T.LongType()),
        T.StructField("n_spaces", T.LongType()),
        T.StructField("ascii_ratio", T.DoubleType()),
    ]
)


def byte_class_stats(media: DataFrame) -> DataFrame:
    """Per-item byte-class profile straight off the Arrow buffers via
    ``mapInArrow`` — the zero-copy sibling of ``mapInPandas``: no
    pandas materialization, no per-row Python objects. The whole
    batch's payload bytes are ONE contiguous numpy view over the Arrow
    data buffer; per-item counts come from cumulative sums indexed by
    the offsets buffer, so cost is O(total bytes) with vectorized ops
    regardless of item count.

    The profile itself (total bytes, ASCII bytes, 0x20 bytes, ASCII
    ratio) is the cheap modality/encoding sniff a media pipeline runs
    before routing payloads to decoders. NULL payloads count as empty.
    Determinism: the ratio is one IEEE division — no rounding needed.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    def stats(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            if batch.num_rows == 0:  # a 0-row batch has no offset buffer
                continue
            ids = batch.column("media_id")
            arr = batch.column("payload")
            # large_binary for int64 offsets; fill nulls so the
            # offsets stay contiguous over the data buffer
            arr = pc.fill_null(arr.cast(pa.large_binary()), b"")
            bufs = arr.buffers()
            off = np.frombuffer(bufs[1], dtype=np.int64)[
                arr.offset : arr.offset + len(arr) + 1
            ]
            data = (
                np.frombuffer(bufs[2], dtype=np.uint8)
                if bufs[2] is not None
                else np.zeros(0, dtype=np.uint8)
            )
            ascii_cum = np.zeros(len(data) + 1, dtype=np.int64)
            np.cumsum(data < 0x80, out=ascii_cum[1:])
            space_cum = np.zeros(len(data) + 1, dtype=np.int64)
            np.cumsum(data == 0x20, out=space_cum[1:])
            n_bytes = off[1:] - off[:-1]
            n_ascii = ascii_cum[off[1:]] - ascii_cum[off[:-1]]
            n_spaces = space_cum[off[1:]] - space_cum[off[:-1]]
            ratio = np.where(
                n_bytes > 0, n_ascii / np.maximum(n_bytes, 1), 0.0
            )
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(n_bytes, type=pa.int64()),
                    pa.array(n_ascii, type=pa.int64()),
                    pa.array(n_spaces, type=pa.int64()),
                    pa.array(ratio, type=pa.float64()),
                ],
                names=["media_id", "n_bytes", "n_ascii", "n_spaces", "ascii_ratio"],
            )

    return media.select("media_id", "payload").mapInArrow(stats, BYTE_CLASS_SCHEMA)


# ---------------------------------------------------------------------------
# Audio: real PCM/WAV plumbing (stdlib-only, no audio libs needed)
# ---------------------------------------------------------------------------

_WAV_STEP = 2654435761  # Knuth multiplicative constant: full-period int walk


def wav_payload(n_samples: int, sample_rate: int = 16000, seed: int = 1) -> bytes:
    """A minimal REAL PCM16 mono WAV built with stdlib ``struct``
    only. Samples are a deterministic INTEGER walk
    s_i = ((seed + i*STEP) mod 65536) - 32768, so any consumer —
    including a SQL oracle holding literals derived from this same
    function — reproduces the byte stream and every sample statistic
    exactly (no float synthesis anywhere)."""
    import struct

    samples = [
        ((seed + i * _WAV_STEP) % 65536) - 32768 for i in range(n_samples)
    ]
    data = struct.pack(f"<{n_samples}h", *samples)
    byte_rate = sample_rate * 2
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, byte_rate, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
    )
    return hdr + data


def audio_pcm_stats(media: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Parse PCM16 WAV payloads and emit exact per-item sample
    statistics via Arrow-batched ``mapInPandas`` — the real audio
    ingest path: header fields read with ``struct``, the sample block
    viewed as one numpy int16 array per item (vectorized, no per-
    sample Python). All statistics are INTEGERS (peak |s|, sum of
    squares fits int64 up to ~8.6e8 samples/item at full scale), so
    downstream RMS/dBFS are single IEEE expressions any engine
    reproduces bit-for-bit. Non-WAV/truncated payloads yield NULL
    stats rather than failing the batch (corrupt-file tolerance).
    """
    import struct
    from typing import Iterator as _It

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("sample_rate", T.LongType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("peak_abs", T.LongType()),
            T.StructField("sum_sq", T.LongType()),
        ]
    )

    def run(batches: _It["pd.DataFrame"]) -> _It["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for b in batches:
            rows = []
            for mid, payload in zip(b[id_col], b["payload"]):
                ok = (
                    payload is not None
                    and len(payload) >= 44
                    and payload[:4] == b"RIFF"
                    and payload[8:12] == b"WAVE"
                )
                if not ok:
                    rows.append((mid, None, None, None, None))
                    continue
                sr = struct.unpack("<I", payload[24:28])[0]
                n_data = struct.unpack("<I", payload[40:44])[0]
                body = payload[44 : 44 + n_data]
                # a payload truncated MID-SAMPLE leaves an odd byte
                # count; frombuffer('<i2') would raise and fail the
                # whole Arrow batch (ADVICE r8) — drop the trailing
                # half-sample, same corrupt-file tolerance as above
                body = body[: (len(body) // 2) * 2]
                s = np.frombuffer(body, dtype="<i2")
                sq = s.astype(np.int64) ** 2
                rows.append(
                    (
                        mid,
                        int(sr),
                        int(len(s)),
                        int(np.abs(s.astype(np.int64)).max()) if len(s) else 0,
                        int(sq.sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "sample_rate", "n_samples", "peak_abs", "sum_sq"],
            )

    return media.select(id_col, "payload").mapInPandas(run, out_schema)
