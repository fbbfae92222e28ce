"""Multimodal column operators: image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched
``mapInPandas``.

Every kernel here is REAL as of r6 — no stub decode paths remain:

- **audio**: PCM16 WAV via the stdlib ``wave`` module (encode +
  parse + time-domain DSP features);
- **image**: 24-bit BMP via a pure-struct codec (_bmp_codec — BMP is
  header arithmetic plus 4-byte-padded bottom-up rows), with real
  header-parse metadata and nearest-neighbor resampling;
- **video**: uncompressed DIB-stream AVI via a RIFF chunk-tree
  writer/walker (_avi_codec), with every-Nth frame decode.

Payload synthesis uses md5-keystream pixels/samples so every kernel
is DuckDB-oracle-able end to end; a production deployment swaps the
codec pair for PIL/librosa/ffmpeg without touching the Spark
plumbing: binary schema, Arrow batch transfer, UDF signatures,
partition-parallel execution, metadata struct shape.

Scale design: decode is the textbook Pandas-UDF case — per-row Python
would serialize row-by-row; ``mapInPandas`` moves whole Arrow batches
into one Python worker per partition, amortizing serde. Partitioning
stays whatever the upstream scan had (no shuffle); heavy decode is
CPU-bound so ``spark.sql.files.maxPartitionBytes`` sizes the work
units.

What batching cannot amortize is the fixed cost of a task on a reused
worker: its ``importlib.invalidate_caches()`` re-read the directories
of ``pyspark.zip`` and the spark-core jar through 16 zipimporters,
160-480 ms per task on 4 cores, more than most kernels' own work. So
every kernel here starts with ``drop_zip_importers()``
(``session._zip_importer_dropper``), which leaves the next task
nothing to re-read. Measured on 4 cores (perfbench ``llm_curate``,
median of 15 runs each), one ``multimodal_image_meta`` execution (8
tasks, each through two chained kernels) went from 1.56 to 0.65 s.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import drop_zip_importers

# Corpus and kernel settings the DuckDB oracles regenerate. Kernels
# copy them into locals at call time: Python workers cannot import the
# package, so a closure must carry values, not module globals.
WAV_SAMPLE_RATE = 8000  # synth_wav_payload's frame rate
AUDIO_BANDS = 4  # equal time buckets of audio_features' RMS
RESIZE_W, RESIZE_H = 16, 12  # resize_images' output dims
FRAME_EVERY = 2  # sample_frames keeps frames idx % FRAME_EVERY == 0
# synth_bmp_twin_corpus: doc ids % TWIN_MOD == 0 get a twin at
# doc_id + TWIN_OFFSET
TWIN_MOD = 9
TWIN_OFFSET = 5_000_000

# metadata struct every decoded asset carries
IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("mean_intensity", T.DoubleType()),
    ]
)


def decode_image_meta(binary_df: DataFrame) -> DataFrame:
    """Arrow-batched decode: binary payload → typed metadata row.

    ``mapInPandas`` receives an iterator of pandas batches per
    partition; each batch is decoded in bulk and yielded with the
    pinned output schema — the pattern for any codec-style kernel
    (resize, frame-sample, spectrogram) over multimodal columns.

    Everything the kernel needs lives inside the closure: the driver
    process is the only place this package is importable (the driver
    injects it via sys.path), so Python workers must receive the UDF
    pickled by value, never by module reference.
    """

    decode_bmp = _bmp_codec()[1]

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()

        def decode_image_bytes(payload: bytes) -> tuple[int, int, int, int, float]:
            # REAL decode (r6): parse the BMP container — size, dims
            # from BITMAPINFOHEADER, channels from bpp — and the true
            # mean intensity of the decoded pixel array. Swap for
            # PIL.Image.open in a deployment with more codecs.
            import struct

            payload = bytes(payload)
            gray = decode_bmp(payload)
            h, w = gray.shape
            bpp = struct.unpack_from("<H", payload, 28)[0]
            mean_intensity = int(gray.sum(dtype="int64")) / (w * h)
            return len(payload), w, h, bpp // 8, mean_intensity

        for pdf in batches:
            meta = [decode_image_bytes(p) for p in pdf["payload"]]
            out = pd.DataFrame(
                meta,
                columns=["n_bytes", "width", "height", "channels", "mean_intensity"],
            )
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return binary_df.mapInPandas(decode, IMAGE_META_SCHEMA)


def _synth_parts(docs: DataFrame) -> int:
    """Partition count for the fixture-synthesis kernels: the input is
    a bare doc_id column (KB-sized shuffle) but the KERNEL is
    CPU-bound Python (md5 keystream + container encode), so spreading
    it over reused Python workers pays immediately — measured at
    sf0.1: AVI synthesis 1.20→0.80 s and WAV 1.15→0.45 s at 8
    partitions (16 measured worse; that run predates
    ``drop_zip_importers``, so it does not say how much of the loss
    was the per-task importer re-read). defaultParallelism/4 keeps the
    same scaling law on a cluster; production pipelines read real
    binaries off object storage and inherit the scan's own splits
    instead."""
    return max(8, docs.sparkSession.sparkContext.defaultParallelism // 4)


def synth_wav_payload(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic PCM16 mono WAV corpus — REAL WAV
    encoding via the stdlib ``wave`` module (the only audio codec this
    container ships). Stands in for the object-storage audio scan of a
    production pipeline: doc ``d`` gets ``n = 256 + (d*37) % 128``
    samples, sample ``j`` = the ``j%8``-th 4-hex-char slice of
    ``md5(f"{d}:{j//8}")`` minus 32768 — an md5-keystream waveform
    both engines can regenerate, so downstream feature extraction is
    fully DuckDB-oracle-able (the same construction as the md5-mode
    MinHash signatures). Runs distributed in ``mapInPandas``; one md5
    digest yields 8 samples, so synthesis is ~n/8 digests per doc."""
    sample_rate = WAV_SAMPLE_RATE
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        import hashlib
        import io
        import wave

        import numpy as np

        def wav_bytes(doc_id: int) -> bytes:
            n = 256 + (doc_id * 37) % 128
            hexs = "".join(
                hashlib.md5(f"{doc_id}:{g}".encode()).hexdigest()
                for g in range((n + 7) // 8)
            )
            vals = np.array(
                [int(hexs[4 * j : 4 * j + 4], 16) - 32768 for j in range(n)],
                dtype="<i2",
            )
            buf = io.BytesIO()
            with wave.open(buf, "wb") as w:
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(sample_rate)
                w.writeframes(vals.tobytes())
            return buf.getvalue()

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "payload": [wav_bytes(int(d)) for d in pdf["doc_id"]],
                }
            )

    return (
        docs.select("doc_id")
        .repartition(_synth_parts(docs))
        .mapInPandas(synth, out_schema)
    )


def audio_features(binary_df: DataFrame) -> DataFrame:
    """REAL audio feature extraction (no stub): parse the WAV
    container with the stdlib ``wave`` module — actual header +
    PCM16 frame decoding — then compute time-domain DSP features in
    numpy: per-band RMS energy (``AUDIO_BANDS`` equal time buckets),
    zero-crossing count, and peak amplitude. The binary→feature
    mapInPandas shape — the template for any featurization kernel; a
    production deployment swaps the feature block for a log-mel
    spectrogram (numpy rfft + mel filterbank) without touching the
    Spark plumbing.

    RMS is emitted RAW (unrounded): sum-of-squares stays exact in
    int64 (|s| ≤ 2^15, n ≤ 384 ⇒ ss < 2^39 < 2^53) and IEEE divide +
    sqrt are bit-identical across engines, so callers round once at
    the comparison edge (registry rounds to 4 dp)."""
    n_bands = AUDIO_BANDS
    band_fields = [
        T.StructField(f"rms_b{b}", T.DoubleType()) for b in range(n_bands)
    ]
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("n_frames", T.IntegerType()),
            T.StructField("peak", T.IntegerType()),
            T.StructField("zero_crossings", T.IntegerType()),
            *band_fields,
        ]
    )

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        import io
        import wave

        import numpy as np

        def feats(payload: bytes) -> tuple:
            with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
                rate = w.getframerate()
                nf = w.getnframes()
                raw = w.readframes(nf)
            v = np.frombuffer(raw, dtype="<i2").astype(np.int64)
            peak = int(np.abs(v).max()) if nf else 0
            zc = int(np.sum(v[1:] * v[:-1] < 0)) if nf > 1 else 0
            band = (np.arange(nf) * n_bands) // max(nf, 1)
            rms = []
            for b in range(n_bands):
                sel = v[band == b]
                ss = int(np.sum(sel * sel))
                rms.append(float(np.sqrt(ss / len(sel))) if len(sel) else 0.0)
            return (rate, nf, peak, zc, *rms)

        for pdf in batches:
            rows = [feats(p) for p in pdf["payload"]]
            out = pd.DataFrame(
                rows,
                columns=[
                    "sample_rate",
                    "n_frames",
                    "peak",
                    "zero_crossings",
                    *[f"rms_b{b}" for b in range(n_bands)],
                ],
            )
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return binary_df.mapInPandas(featurize, out_schema)


def synth_bmp_payload(binary_docs: DataFrame) -> DataFrame:
    """Deterministic synthetic 24-bit BMP corpus — REAL BMP encoding
    (BITMAPFILEHEADER + BITMAPINFOHEADER + bottom-up rows padded to
    4 bytes, the actual on-disk format), no codec library needed: BMP
    is struct arithmetic. Doc ``d`` gets a ``(16 + d%16) ×
    (12 + (d*7)%12)`` grayscale image whose pixel ``i`` (row-major
    from the TOP) is byte ``i%16`` of ``md5(f"{d}:{i//16}")`` — the
    md5-keystream construction shared with synth_wav_payload, so
    downstream kernels are DuckDB-oracle-able. Distributed
    ``mapInPandas``; one digest yields 16 pixels."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    encode, _ = _bmp_codec()

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        import hashlib

        import numpy as np

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 16 + d % 16, 12 + (d * 7) % 12
                n = w * h
                raw = b"".join(
                    hashlib.md5(f"{d}:{g}".encode()).digest()
                    for g in range((n + 15) // 16)
                )[:n]
                gray = np.frombuffer(raw, dtype=np.uint8).reshape(h, w)
                payloads.append(encode(gray))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    return (
        binary_docs.select("doc_id")
        .repartition(_synth_parts(binary_docs))
        .mapInPandas(synth, out_schema)
    )


def _bmp_codec():
    """24-bit BMP encoder/decoder pair, defined INSIDE a factory so
    kernel closures capture them BY VALUE (cloudpickle): Python
    workers cannot import this package (the driver injects it via
    sys.path — see decode_image_meta), so a module-level reference
    would die with ModuleNotFoundError on the executor."""

    def encode(gray) -> bytes:
        # real format: 54-byte header, rows padded to 4-byte
        # multiples, stored BOTTOM-UP per the spec
        import struct

        import numpy as np

        h, w = gray.shape
        row = ((w * 3 + 3) // 4) * 4
        size = 54 + row * h
        header = struct.pack(
            "<2sIHHIIiiHHIIiiII",
            b"BM", size, 0, 0, 54,          # file header
            40, w, h, 1, 24, 0, row * h,    # info header (BI_RGB)
            2835, 2835, 0, 0,
        )
        px = np.zeros((h, row), dtype=np.uint8)
        bgr = np.repeat(gray[:, :, None], 3, axis=2).reshape(h, w * 3)
        px[:, : w * 3] = bgr
        return header + px[::-1].tobytes()  # bottom-up row order

    def decode(payload: bytes):
        # parse headers, strip row padding, undo bottom-up order;
        # returns the grayscale (blue-channel) array
        import struct

        import numpy as np

        if payload[:2] != b"BM":
            raise ValueError("not a BMP payload")
        off = struct.unpack_from("<I", payload, 10)[0]
        w, h = struct.unpack_from("<ii", payload, 18)
        bpp = struct.unpack_from("<H", payload, 28)[0]
        if bpp != 24:
            raise ValueError(f"expected 24-bit BMP, got {bpp}")
        row = ((w * 3 + 3) // 4) * 4
        px = np.frombuffer(payload, dtype=np.uint8, count=row * h, offset=off)
        px = px.reshape(h, row)[::-1]  # back to top-down
        return px[:, : w * 3].reshape(h, w, 3)[:, :, 0].copy()

    return encode, decode


# module-level aliases for tests and driver-side callers
_bmp_encode, _bmp_decode = _bmp_codec()


def resize_images(binary_df: DataFrame) -> DataFrame:
    """REAL image resize (no stub): decode the BMP container,
    nearest-neighbor resample in numpy (``src = (dst · src_dim) //
    dst_dim`` — pure integer index math, so the DuckDB oracle can
    regenerate every sampled pixel), re-encode as BMP. Emits the
    resized binary plus verifiable facts: output dims, the exact
    re-encoded byte size (pins the row-padding layout), and the
    integer pixel sum of the resized image (pins the resample map and
    the container round-trip). The 1→1 binary-to-binary mapInPandas
    shape — the template for any re-encode kernel; swap the resample
    line for PIL/cv2 interpolation in a deployment with codecs."""
    target_w, target_h = RESIZE_W, RESIZE_H
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("image", T.BinaryType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("n_bytes", T.IntegerType()),
            T.StructField("pixel_sum", T.LongType()),
        ]
    )
    encode, decode = _bmp_codec()

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        import numpy as np

        xs = (np.arange(target_w)[None, :], np.arange(target_h)[:, None])

        def one(payload: bytes):
            gray = decode(bytes(payload))
            sh, sw = gray.shape
            out = gray[(xs[1] * sh) // target_h, (xs[0] * sw) // target_w]
            enc = encode(out.astype(np.uint8))
            return enc, len(enc), int(out.sum(dtype=np.int64))

        for pdf in batches:
            rows = [one(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "image": [r[0] for r in rows],
                    "width": target_w,
                    "height": target_h,
                    "n_bytes": [r[1] for r in rows],
                    "pixel_sum": [r[2] for r in rows],
                }
            )

    return binary_df.mapInPandas(resize, out_schema)


def _avi_codec():
    """Uncompressed-AVI (DIB 'vids' stream) writer/parser pair — the
    same by-value factory contract as _bmp_codec. AVI is a RIFF
    container: the writer emits the real structure (avih MainAVIHeader,
    strh/strf stream headers, a movi LIST of 00db frame chunks, frames
    as 4-byte-padded bottom-up DIB rows); the parser WALKS the chunk
    tree generically (no hardcoded offsets), so it reads any
    spec-shaped uncompressed AVI, not just its own output."""

    def encode(frames) -> bytes:
        # frames: list of (h, w) uint8 grayscale arrays, equal dims,
        # at 10 frames per second
        import struct

        import numpy as np

        usec_per_frame = 100_000
        h, w = frames[0].shape
        row = ((w * 3 + 3) // 4) * 4
        fsize = row * h
        avih = struct.pack(
            "<IIIIIIIIIIIIII",
            usec_per_frame, fsize * 10, 0, 0, len(frames), 0, 1, fsize,
            w, h, 0, 0, 0, 0,
        )
        strh = struct.pack(
            "<4s4sIHHIIIIIIIIhhhh",
            b"vids", b"DIB ", 0, 0, 0, 0, 1, 10, 0, len(frames),
            fsize, 0, 0, 0, 0, w, h,
        )
        strf = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, fsize, 2835, 2835, 0, 0
        )

        def chunk(fcc: bytes, data: bytes) -> bytes:
            pad = b"\x00" if len(data) % 2 else b""
            return fcc + struct.pack("<I", len(data)) + data + pad

        def lst(kind: bytes, data: bytes) -> bytes:
            return chunk(b"LIST", kind + data)

        movi = b""
        for fr in frames:
            px = np.zeros((h, row), dtype=np.uint8)
            px[:, : w * 3] = np.repeat(fr[:, :, None], 3, 2).reshape(h, w * 3)
            movi += chunk(b"00db", px[::-1].tobytes())
        body = (
            lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
            + lst(b"movi", movi)
        )
        return chunk(b"RIFF", b"AVI " + body)

    def parse(payload: bytes):
        # returns (n_frames, width, height, usec_per_frame,
        #          [(frame_idx, grayscale array), ...]) for ALL frames
        import struct

        import numpy as np

        def walk(buf, pos, end):
            # yields (fcc, list_kind_or_None, data_start, data_len)
            while pos + 8 <= end:
                fcc = buf[pos : pos + 4]
                n = struct.unpack_from("<I", buf, pos + 4)[0]
                if fcc == b"LIST" or fcc == b"RIFF":
                    yield fcc, buf[pos + 8 : pos + 12], pos + 12, n - 4
                else:
                    yield fcc, None, pos + 8, n
                pos += 8 + n + (n % 2)

        (fcc, kind, start, length), = list(walk(payload, 0, 12))
        if fcc != b"RIFF" or kind != b"AVI ":
            raise ValueError("not an AVI payload")
        meta = {}
        frames = []
        def visit(pos, end):
            for fcc, kind, s, n in walk(payload, pos, end):
                if fcc in (b"LIST", b"RIFF"):
                    visit(s, s + n)
                elif fcc == b"avih":
                    u, = struct.unpack_from("<I", payload, s)
                    tf, = struct.unpack_from("<I", payload, s + 16)
                    w, h = struct.unpack_from("<II", payload, s + 32)
                    meta.update(usec=u, n_frames=tf, w=w, h=h)
                elif fcc == b"00db":
                    frames.append((s, n))
        visit(start, start + length)
        w, h = meta["w"], meta["h"]
        row = ((w * 3 + 3) // 4) * 4
        out = []
        for idx, (s, n) in enumerate(frames):
            if n != row * h:
                raise ValueError("frame chunk size mismatch")
            px = np.frombuffer(payload, dtype=np.uint8, count=n, offset=s)
            px = px.reshape(h, row)[::-1]
            out.append((idx, px[:, : w * 3].reshape(h, w, 3)[:, :, 0]))
        return meta["n_frames"], w, h, meta["usec"], out

    return encode, parse


_avi_encode, _avi_parse = _avi_codec()


def synth_avi_payload(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic uncompressed-AVI corpus — REAL RIFF/AVI
    encoding (_avi_codec). Doc ``d``: ``6 + d%5`` frames of
    ``(8 + d%8) × (6 + d%6)`` grayscale; pixel ``i`` of frame ``f`` is
    byte ``i%16`` of ``md5(f"{d}:{f}:{i//16}")`` — the shared
    md5-keystream construction, so frame sampling is
    DuckDB-oracle-able end to end."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    encode, _ = _avi_codec()

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        import hashlib

        import numpy as np

        def frames_for(d: int):
            w, h = 8 + d % 8, 6 + d % 6
            n = w * h
            out = []
            for f in range(6 + d % 5):
                raw = b"".join(
                    hashlib.md5(f"{d}:{f}:{g}".encode()).digest()
                    for g in range((n + 15) // 16)
                )[:n]
                out.append(np.frombuffer(raw, dtype=np.uint8).reshape(h, w))
            return out

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "payload": [
                        encode(frames_for(int(d))) for d in pdf["doc_id"]
                    ],
                }
            )

    return (
        docs.select("doc_id")
        .repartition(_synth_parts(docs))
        .mapInPandas(synth, out_schema)
    )


def sample_frames(binary_df: DataFrame) -> DataFrame:
    """REAL video frame sampling (no stub): walk the AVI's RIFF chunk
    tree, decode every ``FRAME_EVERY``-th DIB frame, and emit one row per
    sampled frame with its stats — the 1→N mapInPandas row-explosion
    shape of video ingestion. Emitted facts (dims from the avih
    header, per-frame integer pixel sums, frame count) pin the
    container walk and the bottom-up padded-row decode against the
    DuckDB oracle. Swap the parser for ffmpeg/PyAV in a deployment
    with codecs; the Spark plumbing is identical."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("n_frames", T.IntegerType()),
            T.StructField("pixel_sum", T.LongType()),
        ]
    )
    _, parse = _avi_codec()
    every_n = FRAME_EVERY

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                nf, w, h, _usec, frames = parse(bytes(payload))
                for idx, gray in frames:
                    if idx % every_n == 0:
                        rows.append(
                            (
                                doc_id, idx, w, h, nf,
                                int(gray.sum(dtype=np.int64)),
                            )
                        )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "frame_idx", "width", "height",
                    "n_frames", "pixel_sum",
                ],
            )

    return binary_df.mapInPandas(sample, schema)


def synth_bmp_twin_corpus(binary_docs: DataFrame) -> DataFrame:
    """Synthetic BMP corpus with perceptual-duplicate plants: every
    base document gets the synth_bmp_payload image; documents with
    ``doc_id % TWIN_MOD == 0`` additionally emit a TWIN row
    (``doc_id + TWIN_OFFSET``) holding the same image nearest-neighbor
    UPSCALED 2x — byte-different payload, different dims, identical
    content at any NN downsample whose target divides the scale
    factor evenly into the index math (floor((floor(x*2s/t))/2) ==
    floor(x*s/t)), so a perceptual hash groups twin with base while
    exact byte dedup (dedup_exact's sha256 digest) cannot. This is the
    image analogue of the near-dup text plants in TESTDATA's
    documents table. Twin pixels come from the SAME md5 keystream as
    the base (pixel (y, x) of the twin is base pixel (y//2, x//2)),
    so the DuckDB oracle regenerates both sides exactly."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    encode, _ = _bmp_codec()
    twin_mod, twin_offset = TWIN_MOD, TWIN_OFFSET

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        import hashlib

        import numpy as np

        def base_gray(d: int):
            w, h = 16 + d % 16, 12 + (d * 7) % 12
            n = w * h
            raw = b"".join(
                hashlib.md5(f"{d}:{g}".encode()).digest()
                for g in range((n + 15) // 16)
            )[:n]
            return np.frombuffer(raw, dtype=np.uint8).reshape(h, w)

        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                gray = base_gray(d)
                ids.append(d)
                payloads.append(encode(gray))
                if d % twin_mod == 0:
                    ids.append(d + twin_offset)
                    payloads.append(encode(np.repeat(np.repeat(gray, 2, 0), 2, 1)))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return (
        binary_docs.select("doc_id")
        .repartition(_synth_parts(binary_docs))
        .mapInPandas(synth, out_schema)
    )


def perceptual_dhash(binary_df: DataFrame) -> DataFrame:
    """Perceptual difference-hash (dHash) over BMP payloads: decode,
    NN-resample to 9 wide x 8 tall (same integer index map as
    resize_images), then bit (r, c) = 1 iff px[r, c+1] > px[r, c] —
    64 gradient bits packed as two sign-safe 32-bit halves
    (``dhash_hi`` rows 0-3, ``dhash_lo`` rows 4-7, bit weight
    2^(r*8+c) within each half). Gradient bits are invariant to
    monotonic tone shifts and to integer NN re-scaling, which is what
    makes this the image near-dup primitive: byte-different re-encodes
    of the same content collide. Arrow-vectorized mapInPandas, one
    row out per row in; at 100 TB the downstream groupBy shuffles two
    ints + doc_id per image, never pixels."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("dhash_hi", T.LongType()),
            T.StructField("dhash_lo", T.LongType()),
        ]
    )
    _, decode = _bmp_codec()

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        import numpy as np

        xs = np.arange(9)[None, :]
        ys = np.arange(8)[:, None]
        w_hi = (1 << (np.arange(32))).astype(np.int64)

        def one(payload: bytes):
            gray = decode(bytes(payload))
            sh, sw = gray.shape
            g = gray[(ys * sh) // 8, (xs * sw) // 9].astype(np.int16)
            bits = (g[:, 1:] > g[:, :-1]).astype(np.int64)  # 8x8
            hi = int((bits[:4].reshape(-1) * w_hi).sum())
            lo = int((bits[4:].reshape(-1) * w_hi).sum())
            return hi, lo

        for pdf in batches:
            hashes = [one(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "dhash_hi": [h[0] for h in hashes],
                    "dhash_lo": [h[1] for h in hashes],
                }
            )

    return binary_df.mapInPandas(hash_batch, out_schema)
