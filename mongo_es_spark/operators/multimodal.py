"""Multimodal (image/audio/video) column plumbing.

Media travel as opaque ``binary`` columns with a typed metadata struct
alongside — the layout that scales: parquet stores the bytes
column-striped, Spark ships them Arrow-batched into Pandas UDFs, and
decode/feature-extract runs vectorized per batch on executors.

The actual codec work is OPTIONAL-dependency gated:

* ``decode_image`` auto-activates when pillow imports;
  ``decode_audio``/``decode_video_frames`` when an ``ffmpeg`` binary
  is on PATH — real Arrow-batched decoders with the documented
  schemas.  Where the dependency is absent (this sandbox), they raise
  ``NotImplementedError`` with the exact contract a real
  implementation must satisfy (input/output schema + batch shape);
* ``fake_decode_metadata`` is a deterministic stand-in driven only by
  the payload bytes, so the Spark-side plumbing — binary schema,
  ``mapInPandas`` batching, Arrow transfer, column pruning — is real
  and testable end to end (and oracle-checkable, since the fake is
  pure arithmetic on byte lengths).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

METADATA_SCHEMA = (
    "doc_id long, n_bytes long, media_type string, width int, height int, "
    "duration_ms long"
)


def attach_payload(
    df: DataFrame, id_col: str, text_col: str, media_type: str = "image/fake"
) -> DataFrame:
    """Stand-in ingest: pack a column into ``payload: binary`` +
    ``media_type`` — the wire format every downstream multimodal
    operator consumes.  Real pipelines read the bytes from object
    storage; the schema contract is identical."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.lit(media_type).alias("media_type"),
    )


def fake_decode_metadata(df: DataFrame) -> DataFrame:
    """Deterministic metadata extraction over binary payloads via
    ``mapInPandas`` — the real Arrow/batching path with a fake codec.

    Batch shape: each pandas chunk holds ``payload`` as Python
    ``bytes``; a real decoder would run its C library per batch here.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf["payload"].map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n.astype("int64"),
                    "media_type": pdf["media_type"],
                    "width": (n % 640 + 16).astype("int32"),
                    "height": (n % 480 + 16).astype("int32"),
                    "duration_ms": (n * 40).astype("int64"),
                }
            )

    return df.mapInPandas(extract, METADATA_SCHEMA)


FRAME_SCHEMA = "doc_id long, frame_idx int, frame_len int"


def fake_frame_sample(
    df: DataFrame, frame_size: int = 256, max_frames: int = 8
) -> DataFrame:
    """Frame sampling with a fake codec: slice the payload into
    ``frame_size``-byte frames (≤ ``max_frames``), one output row per
    frame — the exact row-explosion shape of real video frame
    sampling, with the same ``mapInPandas`` batch contract a real
    ffmpeg-backed sampler would use."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, lens = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                n_frames = min(max_frames, (n + frame_size - 1) // frame_size)
                for i in range(n_frames):
                    ids.append(doc_id)
                    idxs.append(i)
                    lens.append(min(frame_size, n - i * frame_size))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_len": pd.Series(lens, dtype="int32"),
                }
            )

    return df.mapInPandas(sample, FRAME_SCHEMA)


def byte_histogram_features(df: DataFrame, n_bins: int = 32) -> DataFrame:
    """Feature extraction with a fake codec: an L1-normalized byte
    histogram per payload — the plumbing (binary in, fixed-width
    float vector out, vectorized per Arrow batch) is identical to a
    real image-embedding UDF."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                if arr.size == 0:
                    feats.append([0.0] * n_bins)
                    continue
                hist = np.bincount(
                    arr // (256 // n_bins), minlength=n_bins
                )[:n_bins]
                feats.append((hist / arr.size).astype(np.float64).tolist())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "features": feats})

    return df.mapInPandas(extract, "doc_id long, features array<double>")


def _decode_ppm(blob: bytes):
    """P6 (binary) / P3 (ascii) PPM → HxWx3 uint8 array, or None.
    Pure stdlib+numpy — the sandbox-safe fixture format."""
    import numpy as np

    if not blob[:2] in (b"P6", b"P3"):
        return None
    try:
        # header tokens with '#' comments: magic, width, height, maxval
        toks, i, n = [], 2, len(blob)
        while len(toks) < 3 and i < n:
            c = blob[i : i + 1]
            if c == b"#":
                while i < n and blob[i : i + 1] != b"\n":
                    i += 1
            elif c.isspace():
                i += 1
            else:
                j = i
                while j < n and not blob[j : j + 1].isspace():
                    j += 1
                toks.append(blob[i:j])
                i = j
        w, h, maxval = int(toks[0]), int(toks[1]), int(toks[2])
        i += 1  # the single whitespace after maxval
        if maxval <= 0 or maxval > 255 or w <= 0 or h <= 0:
            return None
        if blob[:2] == b"P6":
            raw = np.frombuffer(blob, dtype=np.uint8, count=w * h * 3,
                                offset=i)
        else:
            vals = blob[i:].split()
            raw = np.array(vals[: w * h * 3], dtype=np.uint8)
        if raw.size != w * h * 3:
            return None
        return raw.reshape(h, w, 3)
    except (ValueError, IndexError):
        return None


def _decode_bmp(blob: bytes):
    """Uncompressed 24-bit BMP → HxWx3 uint8 (RGB), or None.  BGR
    byte order, 4-byte row padding, bottom-up unless height < 0 —
    struct offsets straight from the BITMAPINFOHEADER layout."""
    import struct

    import numpy as np

    if blob[:2] != b"BM" or len(blob) < 54:
        return None
    try:
        (data_off,) = struct.unpack_from("<I", blob, 10)
        w, h = struct.unpack_from("<ii", blob, 18)
        (bpp,) = struct.unpack_from("<H", blob, 28)
        (comp,) = struct.unpack_from("<I", blob, 30)
        if bpp != 24 or comp != 0 or w <= 0 or h == 0:
            return None
        top_down = h < 0
        h = abs(h)
        stride = (w * 3 + 3) & ~3
        raw = np.frombuffer(
            blob, dtype=np.uint8, count=stride * h, offset=data_off
        ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
        if not top_down:
            raw = raw[::-1]
        return raw[:, :, ::-1]  # BGR -> RGB
    except (ValueError, struct.error):
        return None


def _stdlib_decode_image(blob: bytes):
    arr = _decode_ppm(blob)
    return arr if arr is not None else _decode_bmp(blob)


def _nn_resize(arr, tw: int, th: int):
    """Nearest-neighbor resample (HxWx3 → thxtwx3) — pure numpy
    index arithmetic; the fallback's resampling kernel (pillow's
    default is bicubic, so fallback and fast path agree exactly only
    on resample-invariant images — solid colors, or target == source
    size; documented in decode_image)."""
    import numpy as np

    h, w = arr.shape[:2]
    ys = np.minimum((np.arange(th) * h) // th, h - 1)
    xs = np.minimum((np.arange(tw) * w) // tw, w - 1)
    return arr[ys][:, xs]


def _stub(what: str, needs: str):
    """Raise the documented environmental contract.  The decode_*
    functions auto-activate when their optional dependency imports
    (pillow / ffmpeg-on-PATH); this error is the contract wherever it
    doesn't."""
    raise NotImplementedError(
        f"{what} requires {needs}, which is not available in this "
        "environment. Contract: input is an iterator of pandas batches "
        "with columns (doc_id int64, payload bytes, media_type str); "
        "output batches must match the declared returnType schema; "
        "decode per batch, never per row. Wire it through "
        "DataFrame.mapInPandas exactly like fake_decode_metadata."
    )


def _have_pil() -> bool:
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def _have_ffmpeg() -> bool:
    import shutil as _sh

    return _sh.which("ffmpeg") is not None


def _have_ffprobe() -> bool:
    import shutil as _sh

    return _sh.which("ffprobe") is not None


def decode_image(df: DataFrame, target_size: tuple[int, int] = (224, 224)):
    """Decode + resize images to fixed-size float tensors.

    Output schema: ``doc_id long, pixels array<float>, width int,
    height int`` with ``pixels`` row-major RGB in [0, 1] at
    ``target_size`` and width/height the ORIGINAL dimensions.

    Two decode paths behind one contract: pillow where it imports
    (full PNG/JPEG/… coverage, bicubic resize — the import check runs
    on the driver; executors re-import inside the Arrow kernel), else
    a pure stdlib+numpy fallback covering PPM (P6/P3) and
    uncompressed 24-bit BMP with nearest-neighbor resize — so the
    operator runs end-to-end in codec-less sandboxes instead of
    raising, and the Spark-side plumbing (schema, mapInPandas batch
    shape) is pinned by the same tests on both paths.  The two paths
    agree exactly on resample-invariant images (solid colors, target
    == source); beyond the fallback's formats a payload is simply
    undecodable there.  Undecodable payloads are dropped, not nulled:
    a corrupt blob in a 100 TB crawl is expected volume, not an
    abort condition (count in = count out + rejects is the caller's
    audit, same as ``fake_decode_metadata``).
    """
    tw, th = int(target_size[0]), int(target_size[1])

    if not _have_pil():

        def decode_fb(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            import numpy as np

            for pdf in batches:
                ids, px, ws, hs = [], [], [], []
                for doc_id, payload in zip(
                    pdf["doc_id"], pdf["payload"]
                ):
                    arr = _stdlib_decode_image(bytes(payload))
                    if arr is None:
                        continue
                    h0, w0 = arr.shape[:2]
                    out = (
                        _nn_resize(arr, tw, th).astype(np.float32)
                        / 255.0
                    )
                    ids.append(doc_id)
                    # plain list, not ndarray: Arrow's NumPyConverter
                    # rejects object columns of numpy vectors for
                    # list<float>
                    px.append([float(v) for v in out.reshape(-1)])
                    ws.append(w0)
                    hs.append(h0)
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(ids, dtype="int64"),
                        # object dtype: an EMPTY batch otherwise
                        # infers float64 and Arrow rejects it for
                        # list<float>
                        "pixels": pd.Series(px, dtype="object"),
                        "width": pd.Series(ws, dtype="int32"),
                        "height": pd.Series(hs, dtype="int32"),
                    }
                )

        return df.mapInPandas(
            decode_fb,
            "doc_id long, pixels array<float>, width int, height int",
        )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from io import BytesIO

        import numpy as np
        from PIL import Image

        for pdf in batches:
            ids, px, ws, hs = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    img = Image.open(BytesIO(bytes(payload))).convert(
                        "RGB"
                    )
                except Exception:
                    continue
                w0, h0 = img.size
                arr = (
                    np.asarray(
                        img.resize((tw, th)), dtype=np.float32
                    )
                    / 255.0
                )
                ids.append(doc_id)
                px.append(arr.reshape(-1))
                ws.append(w0)
                hs.append(h0)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    # object dtype: an all-corrupt batch otherwise
                    # infers float64 and Arrow rejects list<float>
                    "pixels": pd.Series(px, dtype="object"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                }
            )

    return df.mapInPandas(
        decode, "doc_id long, pixels array<float>, width int, height int"
    )


def decode_audio(df: DataFrame, sample_rate: int = 16_000):
    """Decode audio to mono PCM floats at ``sample_rate``.

    Output schema: ``doc_id long, pcm array<float>, sample_rate int``.

    Two decode paths behind one contract: ffmpeg where it is on PATH
    (any container/codec; one decode subprocess per payload inside
    the Arrow batch — codec-bound work, the pipe overhead is noise
    next to the decode itself), else a pure stdlib fallback decoding
    PCM WAV via the ``wave`` module (8/16/32-bit, any channel count
    mixed to mono, linear-interpolation resample to ``sample_rate``)
    — so the operator runs end-to-end in codec-less sandboxes.
    Undecodable payloads are dropped (see :func:`decode_image`).
    """
    sr = int(sample_rate)

    if not _have_ffmpeg():

        def decode_fb(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            import io
            import wave

            import numpy as np

            for pdf in batches:
                ids, pcms = [], []
                for doc_id, payload in zip(
                    pdf["doc_id"], pdf["payload"]
                ):
                    try:
                        with wave.open(
                            io.BytesIO(bytes(payload)), "rb"
                        ) as w:
                            nch = w.getnchannels()
                            width = w.getsampwidth()
                            rate = w.getframerate()
                            frames = w.readframes(w.getnframes())
                    except Exception:
                        continue
                    if width == 2:
                        x = np.frombuffer(frames, dtype="<i2")
                        x = x.astype(np.float32) / 32768.0
                    elif width == 1:
                        x = np.frombuffer(frames, dtype=np.uint8)
                        x = (x.astype(np.float32) - 128.0) / 128.0
                    elif width == 4:
                        x = np.frombuffer(frames, dtype="<i4")
                        x = x.astype(np.float32) / 2147483648.0
                    else:
                        continue
                    if nch > 1:
                        x = x[: len(x) - len(x) % nch]
                        x = x.reshape(-1, nch).mean(axis=1)
                    if rate != sr and len(x) > 1:
                        n_out = max(1, int(round(len(x) * sr / rate)))
                        x = np.interp(
                            np.linspace(0.0, len(x) - 1.0, n_out),
                            np.arange(len(x), dtype=np.float64),
                            x,
                        ).astype(np.float32)
                    ids.append(doc_id)
                    pcms.append([float(v) for v in x])
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(ids, dtype="int64"),
                        "pcm": pd.Series(pcms, dtype="object"),
                        "sample_rate": pd.Series(
                            [sr] * len(ids), dtype="int32"
                        ),
                    }
                )

        return df.mapInPandas(
            decode_fb, "doc_id long, pcm array<float>, sample_rate int"
        )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import subprocess

        import numpy as np

        for pdf in batches:
            ids, pcms = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                proc = subprocess.run(
                    [
                        "ffmpeg", "-v", "error", "-i", "pipe:0",
                        "-f", "f32le", "-ac", "1", "-ar", str(sr),
                        "pipe:1",
                    ],
                    input=bytes(payload),
                    capture_output=True,
                )
                if proc.returncode != 0 or not proc.stdout:
                    continue
                ids.append(doc_id)
                pcms.append(
                    np.frombuffer(proc.stdout, dtype=np.float32)
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "pcm": pd.Series(pcms, dtype="object"),
                    "sample_rate": pd.Series(
                        [sr] * len(ids), dtype="int32"
                    ),
                }
            )

    return df.mapInPandas(
        decode, "doc_id long, pcm array<float>, sample_rate int"
    )


def decode_video_frames(df: DataFrame, fps: float = 1.0):
    """Sample frames at ``fps``; one output row per frame.

    Output schema: ``doc_id long, frame_idx int, pixels array<float>``
    — frames as row-major RGB floats in [0, 1] at the source
    resolution.

    Auto-activates when BOTH ``ffmpeg`` and ``ffprobe`` are on PATH
    (the kernel shells out to ffprobe for the frame size before the
    rawvideo pipe — a host with ffmpeg-but-not-ffprobe must get the
    documented ``NotImplementedError`` contract, not a
    FileNotFoundError inside executor tasks).  Undecodable payloads
    are dropped (see :func:`decode_image`).
    """
    if not (_have_ffmpeg() and _have_ffprobe()):
        _stub("decode_video_frames", "ffmpeg + ffprobe")

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json as _json
        import subprocess

        import numpy as np

        for pdf in batches:
            ids, idxs, px = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                blob = bytes(payload)
                probe = subprocess.run(
                    [
                        "ffprobe", "-v", "error", "-select_streams",
                        "v:0", "-show_entries", "stream=width,height",
                        "-of", "json", "pipe:0",
                    ],
                    input=blob,
                    capture_output=True,
                )
                try:
                    s = _json.loads(probe.stdout)["streams"][0]
                    w, h = int(s["width"]), int(s["height"])
                except Exception:
                    continue
                proc = subprocess.run(
                    [
                        "ffmpeg", "-v", "error", "-i", "pipe:0",
                        "-vf", f"fps={fps}", "-f", "rawvideo",
                        "-pix_fmt", "rgb24", "pipe:1",
                    ],
                    input=blob,
                    capture_output=True,
                )
                if proc.returncode != 0:
                    continue
                frame_bytes = w * h * 3
                n_frames = len(proc.stdout) // frame_bytes
                for k in range(n_frames):
                    arr = np.frombuffer(
                        proc.stdout,
                        dtype=np.uint8,
                        count=frame_bytes,
                        offset=k * frame_bytes,
                    ).astype(np.float32) / 255.0
                    ids.append(doc_id)
                    idxs.append(k)
                    px.append(arr)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "pixels": pd.Series(px, dtype="object"),
                }
            )

    return df.mapInPandas(
        decode, "doc_id long, frame_idx int, pixels array<float>"
    )


def dedup_payloads(df: DataFrame) -> DataFrame:
    """Content-addressable exact dedup over binary payloads: group by
    the payload digest, keep the smallest id as canonical and count
    copies — the first pass every multimodal ingest runs (identical
    images/audio re-crawled under different ids collapse here before
    any expensive decode).

    ``md5`` runs JVM-side on the binary column (no Python, no decode);
    the aggregation is one partial+final hash agg — digests shuffle,
    payloads don't.  At 100 TB swap md5 for xxhash64 if cryptographic
    collision resistance isn't required and digest width matters.
    """
    return df.groupBy(F.md5("payload").alias("content_hash")).agg(
        F.min("doc_id").alias("keep_id"),
        F.count("*").alias("n_copies"),
    )


def frame_hashes(
    df: DataFrame, frame_size: int = 256, max_frames: int = 8
) -> DataFrame:
    """Per-payload frame content hashes with the fake codec: slice the
    binary into ``frame_size``-byte frames (<= ``max_frames``) and md5
    each slice — all JVM column expressions (substring/md5 operate on
    binary natively), no Python in the path.  A real video pipeline
    swaps the slicing for keyframe extraction and the md5 for a
    perceptual hash; the distribution shape is identical.

    Output: ``doc_id, frame_idx, frame_hash`` (distinct per doc —
    a payload repeating a frame contributes it once).
    """
    n = F.length("payload")
    n_frames = F.least(
        F.lit(max_frames), F.ceil(n / F.lit(frame_size)).cast("int")
    )
    idx = F.when(n_frames > 0, F.sequence(F.lit(0), n_frames - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return (
        df.select(F.col("doc_id"), F.explode(idx).alias("frame_idx"),
                  F.col("payload"))
        .select(
            "doc_id",
            "frame_idx",
            F.md5(
                F.expr(f"substring(payload, frame_idx * {frame_size} + 1, "
                       f"{frame_size})")
            ).alias("frame_hash"),
        )
        .dropDuplicates(["doc_id", "frame_hash"])
    )


def frame_overlap_pairs(
    df: DataFrame,
    k_shared: int = 2,
    frame_size: int = 256,
    max_frames: int = 8,
) -> DataFrame:
    """Near-duplicate media by shared frame content: pairs of payloads
    sharing at least ``k_shared`` frame hashes — the video analog of
    n-gram overlap dedup (re-encoded or trimmed copies keep most
    keyframes).

    Inverted-index shape: one frame-hash-keyed self-join carrying ids
    only, one (i, j) aggregation.  Compose AFTER
    :func:`dedup_payloads` (exact collapse first): identical payloads
    share every frame, so running the quadratic stage on content
    representatives keeps join fan-out proportional to *distinct*
    content — same discipline as the text/LSH paths.
    """
    fr = frame_hashes(df, frame_size, max_frames)
    a = fr.select(F.col("doc_id").alias("i"), "frame_hash")
    b = fr.select(F.col("doc_id").alias("j"), "frame_hash")
    return (
        a.hint("merge")
        .join(b.hint("merge"), "frame_hash")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= k_shared)
    )


CDC_CHUNK_SCHEMA = (
    "doc_id long, chunk_idx int, offset int, length int, digest string"
)


def content_defined_chunks(
    df: DataFrame,
    window: int = 4,
    mask_bits: int = 5,
    min_len: int = 16,
    max_len: int = 64,
) -> DataFrame:
    """FastCDC-style content-defined chunking over binary payloads —
    the storage-level dedup primitive: chunk boundaries derive from
    CONTENT (a rolling ``window``-byte value hitting a mask), so
    inserting bytes near the front of a blob shifts only the chunks
    that actually changed, and identical regions across different
    blobs hash to identical chunk digests.  Fixed-size chunking loses
    all sharing after a one-byte insertion; this keeps it.

    Boundary rule (deterministic, seedless): a boundary falls after
    position ``i`` when the big-endian ``window``-byte integer ending
    at ``i`` has its low ``mask_bits`` bits zero (expected chunk
    ~2^mask_bits bytes), subject to greedy ``min_len``/``max_len``
    enforcement from the previous boundary.  Empty payloads produce
    no chunks.

    Python is the right tool here and is Arrow-batched: the candidate
    scan is vectorized numpy (sliding windows -> one mask compare);
    only the short min/max greedy walk over CANDIDATES (~bytes /
    2^mask_bits of them) is a loop.  No JVM expression computes
    per-byte rolling state; this is the documented ``mapInPandas``
    escape hatch, same as the codec contracts.  Identical payloads
    are chunked ONCE (md5 clone-collapse) and the chunk rows expand
    back to members through digest-keyed equi-joins, so the Python
    stage scales with distinct bytes.

    Output: one row per chunk ``(doc_id, chunk_idx, offset, length,
    digest)`` with ``digest = md5(chunk bytes)``.
    """
    if window < 1 or min_len < window or max_len < min_len:
        raise ValueError("need window >= 1 <= min_len <= max_len")
    mask = (1 << mask_bits) - 1

    def chunker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import numpy as np
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in batches:
            docs, idxs, offs, lens, digs = [], [], [], [], []
            for doc, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                n = len(b)
                if n == 0:
                    continue
                if n >= window:
                    arr = np.frombuffer(b, dtype=np.uint8)
                    win = sliding_window_view(arr, window).astype(
                        np.uint32
                    )
                    vals = win[:, 0]
                    for k in range(1, window):
                        vals = vals * np.uint32(256) + win[:, k]
                    # boundary AFTER the window's last byte
                    cand = np.nonzero((vals & mask) == 0)[0] + window
                else:
                    cand = np.empty(0, dtype=np.int64)
                start, ci, idx = 0, 0, 0
                while start < n:
                    lo, hi = start + min_len, start + max_len
                    while ci < len(cand) and cand[ci] < lo:
                        ci += 1
                    if ci < len(cand) and cand[ci] <= hi and cand[ci] < n:
                        end = int(cand[ci])
                        ci += 1
                    else:
                        end = min(hi, n)
                    docs.append(doc)
                    idxs.append(idx)
                    offs.append(start)
                    lens.append(end - start)
                    digs.append(hashlib.md5(b[start:end]).hexdigest())
                    idx += 1
                    start = end
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(docs, dtype="int64"),
                    "chunk_idx": pd.Series(idxs, dtype="int32"),
                    "offset": pd.Series(offs, dtype="int32"),
                    "length": pd.Series(lens, dtype="int32"),
                    "digest": pd.Series(digs, dtype="object"),
                }
            )

    # clone-collapse: chunk each DISTINCT payload once (Python work
    # scales with distinct bytes, not raw corpus size), then expand
    # chunk rows back to every owning doc through md5-keyed joins —
    # output identical to chunking every row
    with_dig = df.select(
        "doc_id", "payload", F.md5("payload").alias("__pd")
    )
    reps = with_dig.groupBy("__pd").agg(
        F.min("doc_id").alias("__rep"),
        F.min_by("payload", "doc_id").alias("payload"),
    )
    rep_chunks = reps.select(
        F.col("__rep").alias("doc_id"), "payload"
    ).mapInPandas(chunker, CDC_CHUNK_SCHEMA)
    return (
        with_dig.select("doc_id", "__pd")
        .join(reps.select("__pd", "__rep"), "__pd")
        .join(
            rep_chunks.withColumnRenamed("doc_id", "__rep"), "__rep"
        )
        .select("doc_id", "chunk_idx", "offset", "length", "digest")
    )
