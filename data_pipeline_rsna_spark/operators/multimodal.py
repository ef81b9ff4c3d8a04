"""Multimodal columns (SURVEY.md §2.3 X7, generalizing O6/O7/O10).

Images/audio/video ride through the engine as opaque ``binary`` columns
plus typed metadata (height, width, dtype) — Spark has no tensor type,
and at 100 TB you never want one: the payload stays columnar-compressed
in parquet, metadata predicates prune without touching pixels, and only
the pandas-UDF stages that genuinely need pixels deserialize them.

The Python boundary is crossed exactly where unavoidable, via
``mapInPandas`` (Arrow batches). Batch memory is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` (set low in
``session.py`` because one row can be megabytes).

Codecs: ``decode_dicom``/``encode_png`` prefer pydicom/PIL when
installed, and otherwise run the stdlib-only implementations in
``functions.codecs`` (zlib+struct PNG; a DICOM reader for native, RLE
and JPEG-family PixelData) — so both execute for real in this
container; the ``multimodal_codec_roundtrip`` query hash-checks the
full encode→decode→stats chain against a closed-form oracle.

Operators that change each image's pixels are one ``map_pixels`` call
with a per-image function.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import image_kernels as ik

SHIFT_MAX = 4
BRIGHTEN_DELTA = 3
FIXTURE_N = 40
FIXTURE_SIDE = 16
DHASH_H = 8
DHASH_W = 8

PIXELS_SCHEMA = (
    "img_id long, pixels binary, dtype string, height int, width int"
)
PIXEL_COLUMNS = ["img_id", "pixels", "dtype", "height", "width"]
STATS_SCHEMA = (
    "img_id long, sum_px long, mean_px double, min_px int, max_px int"
)

# ---------------------------------------------------------------------------
# codec stubs (import-gated)
# ---------------------------------------------------------------------------


def decode_dicom(content: bytes) -> np.ndarray:
    """DICOM bytes → pixel array (O7, ref generate_images_from_dicom.py:
    48-51). pydicom when installed (full transfer-syntax coverage);
    otherwise the stdlib-only reader in ``functions.codecs``, which
    decodes monochrome native, RLE and JPEG-family PixelData (every
    syntax but HTJ2K)."""
    try:
        import io

        import pydicom  # type: ignore[import-not-found]

        return pydicom.dcmread(io.BytesIO(content)).pixel_array
    except ImportError:
        from ..functions.codecs import decode_dicom_gray

        return decode_dicom_gray(content)


def bytescale(arr: np.ndarray) -> np.ndarray:
    """``scipy.misc.imsave``'s implicit conversion (the reference writes
    every PNG through imsave, generate_images_from_dicom.py:80): non-uint8
    input is linearly min-max rescaled to the full uint8 range —
    ``(v - min) * 255 / (max - min) + 0.5`` truncated. Real DICOM pixels
    are typically MONOCHROME2 uint16, so this rescale IS the reference's
    output semantics; a mod-256 cast (the previous fallback) silently
    corrupts every pixel above 255."""
    if arr.dtype == np.uint8:
        return arr
    if arr.size == 0:
        return arr.astype(np.uint8)
    a = arr.astype(np.float64)
    lo = float(a.min())
    hi = float(a.max())
    if hi <= lo:
        return np.zeros(arr.shape, np.uint8)
    return ((a - lo) * (255.0 / (hi - lo)) + 0.5).astype(np.uint8)


def encode_png(arr: np.ndarray) -> bytes:
    """ndarray → PNG bytes (O10, ref generate_images_from_dicom.py:80).
    Non-uint8 input is ``bytescale``d first — on BOTH paths, so the PIL
    and stdlib encoders emit identical 8-bit images (PIL would otherwise
    write a 16-bit PNG for uint16 input, diverging from the reference's
    imsave). PIL when installed; otherwise the stdlib zlib+struct
    grayscale encoder in ``functions.codecs``."""
    arr = bytescale(arr)
    try:
        import io

        from PIL import Image  # type: ignore[import-not-found]

        buf = io.BytesIO()
        Image.fromarray(arr).save(buf, format="PNG")
        return buf.getvalue()
    except ImportError:
        from ..functions.codecs import encode_png_gray

        return encode_png_gray(np.ascontiguousarray(arr))


def map_pixels(images: DataFrame,
               fn: Callable[[int, np.ndarray], np.ndarray]) -> DataFrame:
    """Per-image pixel map over a ``PIXELS_SCHEMA`` frame: ``fn(img_id,
    ndarray) -> ndarray`` runs on every row inside ``mapInPandas``
    (Arrow batches, on executors), and each result is re-emitted with
    its own dtype and shape. The input array is read-only; ``fn``
    copies before writing into it."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = np.frombuffer(r.pixels, dtype=np.dtype(r.dtype))
                res = np.ascontiguousarray(
                    fn(r.img_id, arr.reshape(r.height, r.width))
                )
                out.append(
                    (r.img_id, res.tobytes(), str(res.dtype), *res.shape)
                )
            yield pd.DataFrame(out, columns=PIXEL_COLUMNS)

    return images.mapInPandas(run, PIXELS_SCHEMA)


# ---------------------------------------------------------------------------
# binary-file source (O6/O8)
# ---------------------------------------------------------------------------


def read_binary_dir(spark: SparkSession, path: str) -> DataFrame:
    """O6+O8: binaryFile scan of the ``.dcm`` files under ``path`` with
    patient-id derivation (basename minus extension,
    generate_images_from_dicom.py:75-77)."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.dcm")
        .load(path)
    )
    base = F.regexp_extract(F.col("path"), r"([^/]+)$", 1)
    return df.select(
        "path",
        F.regexp_replace(base, r"\.[^.]*$", "").alias("patient_id"),
        "content",
    )


# ---------------------------------------------------------------------------
# deterministic synthetic corpus (the testable stand-in for DICOM pixels)
# ---------------------------------------------------------------------------


def synth_images(spark: SparkSession, n: int = 200, height: int = 16,
                 width: int = 16, mod: int = 256) -> DataFrame:
    """n deterministic uint8 images: pixel[i] = (img_id*31 + i*7) % mod.
    Closed-form per pixel, so any engine can recompute the expected
    statistics exactly — this is what makes the pandas-UDF plumbing
    oracle-checkable. ``mod`` < 256 leaves headroom below the uint8
    ceiling (e.g. so a saturating brightness shift provably never
    saturates — the dHash invariance corpus uses 200)."""
    npx = height * width

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rows = []
            for img_id in ids:
                px = (img_id * 31 + np.arange(npx, dtype=np.int64) * 7) % mod
                rows.append(
                    (int(img_id), px.astype(np.uint8).tobytes(), "uint8",
                     height, width)
                )
            yield pd.DataFrame(rows, columns=PIXEL_COLUMNS)

    return spark.range(n).mapInPandas(gen, PIXELS_SCHEMA)


def synth_images16(spark: SparkSession, n: int = 120, height: int = 10,
                   width: int = 10) -> DataFrame:
    """uint16 twin of ``synth_images`` for the archival-depth codec
    paths (CR/DX pixel data is 12-16 bit): pixel[i] = (img_id*523 +
    i*659) % 65536 — multipliers sized so the modulus genuinely wraps
    (high uint16 values are exercised), closed-form so the oracle
    recomputes every pixel exactly."""
    npx = height * width

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for img_id in pdf["id"].to_numpy():
                px = (
                    img_id * 523 + np.arange(npx, dtype=np.int64) * 659
                ) % 65536
                rows.append(
                    (int(img_id), px.astype(np.uint16).tobytes(), "uint16",
                     height, width)
                )
            yield pd.DataFrame(rows, columns=PIXEL_COLUMNS)

    return spark.range(n).mapInPandas(gen, PIXELS_SCHEMA)


def jpeg_lossless_roundtrip(images: DataFrame) -> DataFrame:
    """Pixels → JPEG-Lossless SV1 DICOM encode → decode → pixels, all
    inside the Arrow batch: the archival CR/DX transfer syntax
    (1.2.840.10008.1.2.4.70, SOF3 predictive — functions/jpeg.py)
    through the encapsulated-PixelData wrapper. LOSSLESS: unlike
    ``jpeg_roundtrip``, this must reproduce ANY corpus bit-exactly —
    no block-constant construction needed, and the differential gate
    checks exact pixel equality through the decode."""
    from ..functions import codecs as C

    return map_pixels(images, lambda _, arr: C.decode_dicom_gray(
        C.encode_dicom_jpeg_lossless(arr)))


def j2k_lossy_roundtrip_check(images: DataFrame,
                              delta: float = 1.0 / 64.0) -> DataFrame:
    """Pixels → irreversible-9/7 J2K DICOM encode (.4.91,
    functions/jpeg2000.py) → decode → per-image error audit,
    inside the Arrow batch. Lossy, so the contract is a BOUND, not
    equality: emits (img_id, n_px, within_bound, syntax_ok) where
    within_bound asserts max |out − in| ≤ ceil(1.5·delta·2^prec) (the
    quality contract measured in test_jpeg2000) and syntax_ok asserts
    the blob really carries the .4.91 transfer syntax UID. Every row
    must come back (true, true) — the oracle states that closed-form,
    so any codec regression hash-mismatches the gate."""
    from ..functions import codecs as C

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = np.frombuffer(
                    r.pixels, dtype=np.dtype(r.dtype)
                ).reshape(r.height, r.width)
                blob = C.encode_dicom_j2k_lossy(arr, delta=delta)
                back = C.decode_dicom_gray(blob)
                prec = arr.dtype.itemsize * 8
                bound = int(np.ceil(1.5 * delta * (1 << prec)))
                err = int(
                    np.abs(
                        back.astype(np.int64) - arr.astype(np.int64)
                    ).max()
                )
                out.append(
                    (
                        int(r.img_id),
                        int(arr.size),
                        bool(err <= bound),
                        bool(b"1.2.840.10008.1.2.4.91" in blob
                             and back.dtype == arr.dtype),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=["img_id", "n_px", "within_bound", "syntax_ok"],
            )

    return images.mapInPandas(
        run,
        "img_id long, n_px long, within_bound boolean, "
        "syntax_ok boolean",
    )


def jpegls_roundtrip(images: DataFrame) -> DataFrame:
    """Pixels → JPEG-LS lossless DICOM encode → decode → pixels, all
    inside the Arrow batch: the T.87/LOCO-I transfer syntax
    1.2.840.10008.1.2.4.80 (functions/jpegls.py) through the
    encapsulated-PixelData wrapper. Must reproduce ANY corpus
    bit-exactly, same contract as ``jpeg_lossless_roundtrip``."""
    from ..functions import codecs as C

    return map_pixels(images, lambda _, arr: C.decode_dicom_gray(
        C.encode_dicom_jpegls(arr, 0)))


def j2k_roundtrip(images: DataFrame) -> DataFrame:
    """Pixels → JPEG 2000 Lossless DICOM encode → decode → pixels,
    all inside the Arrow batch: transfer syntax 1.2.840.10008.1.2.4.90
    (reversible 5/3 + EBCOT/MQ — functions/jpeg2000.py) through the
    encapsulated-PixelData wrapper. LOSSLESS: must reproduce ANY
    corpus bit-exactly, same contract as ``jpeg_lossless_roundtrip``
    and ``jpegls_roundtrip`` (the reference reaches this syntax through
    pydicom, generate_images_from_dicom.py:44-51)."""
    from ..functions import codecs as C

    return map_pixels(images, lambda _, arr: C.decode_dicom_gray(
        C.encode_dicom_j2k(arr)))


def multiframe_roundtrip_stats(spark: SparkSession) -> DataFrame:
    """Multi-frame DICOM path (CT/MR series shape): synthesize a
    closed-form (4, 9, 7) uint16 stack per image id 0..39 — pixel =
    (img_id*523 + frame*277 + i*659) % 65536 — encode it as ONE
    multi-frame JPEG 2000 DICOM (encapsulated, Basic Offset Table),
    decode with ``decode_dicom_frames``, and emit per-(img, frame)
    stats. The whole synth→encode→decode→stats chain runs inside the
    Arrow batch; a hash match against the closed-form oracle asserts
    exact per-frame recovery THROUGH the multi-frame container, which
    single-frame roundtrips cannot see (fragment/BOT bookkeeping).
    Reference behavior via pydicom's (F, H, W) ``pixel_array``
    (generate_images_from_dicom.py:48-51)."""
    from ..functions import codecs as C

    idx = np.arange(9 * 7, dtype=np.int64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for img_id in pdf["id"].to_numpy():
                stack = np.stack([
                    ((img_id * 523 + f * 277 + idx * 659) % 65536)
                    .astype(np.uint16).reshape(9, 7)
                    for f in range(4)
                ])
                back = C.decode_dicom_frames(
                    C.encode_dicom_multiframe(stack, "j2k")
                )
                for f in range(back.shape[0]):
                    fr = back[f].astype(np.int64)
                    out.append((
                        int(img_id), f, int(fr.sum()),
                        int(fr.min()), int(fr.max()),
                    ))
            yield pd.DataFrame(
                out,
                columns=["img_id", "frame_id", "sum_px", "min_px",
                         "max_px"],
            )

    return (
        spark.range(40)
        .repartition(8)
        .mapInPandas(
            run,
            "img_id long, frame_id int, sum_px long, min_px int, "
            "max_px int",
        )
    )


def pixel_stats(images: DataFrame) -> DataFrame:
    """Per-image pixel statistics — the feature-extraction stage of a
    multimodal pipeline, computed inside Arrow batches."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = np.frombuffer(r.pixels, dtype=np.dtype(r.dtype))
                out.append(
                    (
                        r.img_id,
                        int(arr.sum(dtype=np.int64)),
                        float(round(arr.mean(), 6)),
                        int(arr.min()),
                        int(arr.max()),
                    )
                )
            yield pd.DataFrame(
                out, columns=["img_id", "sum_px", "mean_px", "min_px", "max_px"]
            )

    return images.mapInPandas(stats, STATS_SCHEMA)


def apply_kernel(images: DataFrame, op: str, variant: int = 0) -> DataFrame:
    """Run one augmentation pixel kernel over a multimodal column, with
    the engine's seeded-RNG convention (O19): ``flip``, ``shift`` (by up
    to ``SHIFT_MAX``), ``scale`` (nearest-neighbor) or ``brighten`` (by
    ``BRIGHTEN_DELTA``, deterministic)."""

    def kernel(img_id: int, arr: np.ndarray) -> np.ndarray:
        if op == "flip":
            return ik.flip_image(arr)
        if op == "brighten":
            return ik.brighten(arr, BRIGHTEN_DELTA)
        rng = ik.seeded_rng(str(img_id), variant, op)
        if op == "shift":
            rx = int(rng.integers(-SHIFT_MAX, SHIFT_MAX + 1))
            ry = int(rng.integers(-SHIFT_MAX, SHIFT_MAX + 1))
            return ik.shift_image(arr, rx, ry)
        if op == "scale":
            rf = float(rng.uniform(0.8, 1.25))
            return ik.scale_image(arr, rf, interp="nearest")
        raise ValueError(f"unknown kernel op {op!r}")

    return map_pixels(images, kernel)


def stage_dicom_fixture_dir() -> str:
    """Write a deterministic directory of ``FIXTURE_N`` real ``.dcm``
    files (once) — the file-based input the reference job consumes (a
    dir of DICOMs, generate_images_from_dicom.py:70-78). pixel[i] of
    patient p is ``(p*31 + i*7) % 256``, the same closed form the
    synthetic corpus uses, so file-based results stay oracle-checkable."""
    import pathlib

    from ..functions.codecs import encode_dicom_gray
    from ..sinks import atomic_write

    side = FIXTURE_SIDE
    d = (pathlib.Path("/tmp/spark_graft_fixtures")
         / f"dicom_{FIXTURE_N}_{side}x{side}")
    marker = d / ".complete"
    if not marker.exists():
        d.mkdir(parents=True, exist_ok=True)
        npx = side * side
        for pid in range(FIXTURE_N):
            px = ((pid * 31 + np.arange(npx, dtype=np.int64) * 7) % 256)
            arr = px.astype(np.uint8).reshape(side, side)
            with atomic_write(str(d / f"patient_{pid:04d}.dcm")) as f:
                f.write(encode_dicom_gray(arr))
        marker.touch()
    return str(d)


def decode_dicom_batch(files: DataFrame) -> DataFrame:
    """(patient_id, content) rows → decoded pixel rows (O7 over a real
    binaryFile scan): the numeric image id derives from the patient-id
    suffix, decode runs inside the Arrow batch on executors."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = decode_dicom(bytes(r.content))
                out.append(
                    (int(str(r.patient_id).rsplit("_", 1)[-1]),
                     np.ascontiguousarray(arr).tobytes(), str(arr.dtype),
                     arr.shape[0], arr.shape[1])
                )
            yield pd.DataFrame(out, columns=PIXEL_COLUMNS)

    return files.mapInPandas(run, PIXELS_SCHEMA)


def codec_roundtrip(images: DataFrame) -> DataFrame:
    """O7+O10 in one verifiable chain: pixels → PNG encode → PNG decode →
    RLE-Lossless DICOM encode → decode → uncompressed DICOM encode →
    decode → pixels. All codecs execute inside the Arrow batch on
    executors; the output schema equals the input's, and because every
    format in the chain is lossless the pixels must come back
    bit-identical — which ``pixel_stats`` downstream hash-checks against
    the closed-form oracle. The RLE leg runs the PackBits
    encoder/decoder (codecs.py, PS3.5 Annex G) under the driver's
    correctness gate, not just unit tests."""
    from ..functions import codecs as C

    def chain(_: int, arr: np.ndarray) -> np.ndarray:
        via_png = C.decode_png_gray(encode_png(arr))
        via_rle = C.decode_dicom_gray(C.encode_dicom_rle(via_png))
        return C.decode_dicom_gray(C.encode_dicom_gray(via_rle))

    return map_pixels(images, chain)


def synth_block_images(spark: SparkSession) -> DataFrame:
    """150 deterministic 16x16 uint8 images, constant per 8x8 block:
    value = (img_id*37 + block_id*11) % 256, block_id row-major over
    the 8x8 grid. Purpose-built for the JPEG roundtrip gate: a
    constant block has only a DC coefficient, and the Annex-K DC
    quantizer at the default quality reconstructs it to < 0.5 gray
    levels — so even the LOSSY codec roundtrips these bit-exactly and
    the oracle stays a closed form."""
    yy, xx = np.mgrid[0:16, 0:16]
    blk = (yy // 8) * 2 + (xx // 8)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for img_id in pdf["id"].to_numpy():
                px = ((int(img_id) * 37 + blk * 11) % 256).astype(np.uint8)
                rows.append((int(img_id), px.tobytes(), "uint8", 16, 16))
            yield pd.DataFrame(rows, columns=PIXEL_COLUMNS)

    return spark.range(150).mapInPandas(gen, PIXELS_SCHEMA)


def jpeg_roundtrip(images: DataFrame) -> DataFrame:
    """Pixels → JPEG-Baseline DICOM encode → decode → pixels, all
    inside the Arrow batch: exercises the from-scratch T.81 codec
    (functions/jpeg.py) through the encapsulated-PixelData wrapper
    (transfer syntax 1.2.840.10008.1.2.4.50) under the differential
    gate. Lossy in general — callers feed block-constant synth images
    (``synth_block_images``) when they need bit-exact recovery."""
    from ..functions import codecs as C

    return map_pixels(images, lambda _, arr: C.decode_dicom_gray(
        C.encode_dicom_jpeg(arr)))


# ---------------------------------------------------------------------------
# resize (explicit-target variant of the zoom kernel)
# ---------------------------------------------------------------------------


def resize(images: DataFrame, out_h: int, out_w: int) -> DataFrame:
    """Nearest-neighbor resize of every image to (out_h, out_w) — the
    standard normalization step before batching multimodal training
    data. Index mapping is exact integer arithmetic (no interpolation
    library), deterministic across platforms."""

    def nearest(_: int, arr: np.ndarray) -> np.ndarray:
        h, w = arr.shape
        ys = (np.arange(out_h) * h) // out_h
        xs = (np.arange(out_w) * w) // out_w
        return arr[np.ix_(ys, xs)]

    return map_pixels(images, nearest)


# ---------------------------------------------------------------------------
# video columns: frame sampling
# ---------------------------------------------------------------------------

VIDEO_SCHEMA = (
    "vid_id long, frames binary, dtype string, n_frames int, "
    "height int, width int"
)
FRAME_SCHEMA = (
    "vid_id long, frame_idx int, pixels binary, dtype string, "
    "height int, width int"
)


def synth_videos(spark: SparkSession, n: int = 60, n_frames: int = 12,
                 height: int = 8, width: int = 8) -> DataFrame:
    """Deterministic synthetic videos: frame f, pixel j of video v is
    ``(v*131 + f*17 + j*7) % 256`` (uint8). The "codec" is raw
    frame-concatenation — a real pipeline swaps in an ffmpeg decode
    stub here; everything downstream (frame addressing, sampling,
    per-frame ops) is codec-agnostic."""
    npx = height * width

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for vid in pdf["id"].to_numpy():
                f = np.arange(n_frames, dtype=np.int64)[:, None]
                j = np.arange(npx, dtype=np.int64)[None, :]
                px = (int(vid) * 131 + f * 17 + j * 7) % 256
                rows.append(
                    (int(vid), px.astype(np.uint8).tobytes(), "uint8",
                     n_frames, height, width)
                )
            yield pd.DataFrame(
                rows,
                columns=["vid_id", "frames", "dtype", "n_frames", "height",
                         "width"],
            )

    return spark.range(n).mapInPandas(gen, VIDEO_SCHEMA)


def sample_frames(videos: DataFrame, stride: int = 3) -> DataFrame:
    """Every ``stride``-th frame of each video as its own row — the
    frame-sampling stage of a video training pipeline. Pure offset
    slicing into the binary payload (one row in, n_frames/stride rows
    out, all inside the Arrow batch; no shuffle)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                frame_bytes = r.height * r.width * np.dtype(r.dtype).itemsize
                for f in range(0, r.n_frames, stride):
                    chunk = r.frames[f * frame_bytes:(f + 1) * frame_bytes]
                    out.append(
                        (r.vid_id, f, chunk, r.dtype, r.height, r.width)
                    )
            yield pd.DataFrame(
                out,
                columns=["vid_id", "frame_idx", "pixels", "dtype", "height",
                         "width"],
            )

    return videos.mapInPandas(run, FRAME_SCHEMA)


def frame_stats(frames: DataFrame) -> DataFrame:
    """Per-sampled-frame statistics (sum/min/max) — closed-form checkable
    against the synthetic corpus."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = np.frombuffer(r.pixels, dtype=np.dtype(r.dtype))
                out.append(
                    (r.vid_id, r.frame_idx, int(arr.sum(dtype=np.int64)),
                     int(arr.min()), int(arr.max()))
                )
            yield pd.DataFrame(
                out,
                columns=["vid_id", "frame_idx", "sum_px", "min_px", "max_px"],
            )

    return frames.mapInPandas(
        stats, "vid_id long, frame_idx int, sum_px long, min_px int, max_px int"
    )


# ---------------------------------------------------------------------------
# audio columns: waveform features
# ---------------------------------------------------------------------------

AUDIO_SCHEMA = "clip_id long, samples binary, dtype string, n_samples int"


def synth_audio(spark: SparkSession, n: int = 100,
                n_samples: int = 2000) -> DataFrame:
    """Deterministic int16 "waveforms": sample i of clip c is
    ``((c*17 + i*13) % 2048) - 1024``. Stands in for a real audio
    decode (soundfile/librosa stub) with exactly the same binary+
    metadata column shape."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for cid in pdf["id"].to_numpy():
                i = np.arange(n_samples, dtype=np.int64)
                s = ((int(cid) * 17 + i * 13) % 2048) - 1024
                rows.append(
                    (int(cid), s.astype(np.int16).tobytes(), "int16",
                     n_samples)
                )
            yield pd.DataFrame(
                rows, columns=["clip_id", "samples", "dtype", "n_samples"]
            )

    return spark.range(n).mapInPandas(gen, AUDIO_SCHEMA)


def audio_features(clips: DataFrame) -> DataFrame:
    """Integer-exact waveform features: total energy (Σ s², int64) and
    zero-crossing count (sign flips between consecutive samples; zero
    counts as non-negative). Integer outputs keep the differential
    oracle exact — float features (RMS, dB) are one `sqrt`/`log` away
    downstream."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                s = np.frombuffer(r.samples, dtype=np.dtype(r.dtype)).astype(
                    np.int64
                )
                energy = int((s * s).sum())
                nonneg = s >= 0
                zc = int((nonneg[1:] != nonneg[:-1]).sum())
                out.append((r.clip_id, energy, zc, r.n_samples))
            yield pd.DataFrame(
                out,
                columns=["clip_id", "energy", "zero_crossings", "n_samples"],
            )

    return clips.mapInPandas(
        feats,
        "clip_id long, energy long, zero_crossings long, n_samples int",
    )


# stage op-name → pixel-kernel sequence, mirroring the geometry chains of
# augmentation.STAGES (same stage vocabulary)
STAGE_KERNEL_CHAINS = {
    "shift_image": ("shift",),
    "shift_bbox": ("shift",),
    "scale_bbox": ("scale",),
    "scale_image": ("scale",),
    "scale_shift_bbox": ("scale", "shift"),
    "shift_image_shift_bbox": ("shift", "shift"),
    "scale_image_scale_shift_bbox": ("scale", "scale", "shift"),
}


def apply_stage_chain(images: DataFrame, stage_op: str,
                      variant: int = 0) -> DataFrame:
    """Pixel half of one augmentation stage: the stage's kernel sequence
    applied in order (each step seeded on (img_id, variant, op, step) via
    the shared RNG convention, so pixels and box geometry derived from
    the same keys stay in lock-step)."""
    out = images
    for step, op in enumerate(STAGE_KERNEL_CHAINS[stage_op]):
        out = apply_kernel(out, op, variant=variant * 10 + step)
    return out


# ---------------------------------------------------------------------------
# image tiling (ViT-style patch extraction)
# ---------------------------------------------------------------------------

PATCH_SCHEMA = (
    "img_id long, patch_row int, patch_col int, pixels binary, "
    "dtype string, height int, width int"
)


def tile_patches(images: DataFrame) -> DataFrame:
    """Split each image into non-overlapping 8×8 tiles, one row per
    tile — the vision-transformer data-prep step. Pure ndarray
    reshaping inside the Arrow batch (fan-out (H/8)·(W/8) per image, no
    shuffle); image sides must be multiples of 8 (normalize with
    ``resize`` first)."""
    patch = 8

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = np.frombuffer(r.pixels, dtype=np.dtype(r.dtype)).reshape(
                    r.height, r.width
                )
                assert r.height % patch == 0 and r.width % patch == 0
                for pr in range(r.height // patch):
                    for pc in range(r.width // patch):
                        tile = arr[
                            pr * patch:(pr + 1) * patch,
                            pc * patch:(pc + 1) * patch,
                        ]
                        out.append(
                            (r.img_id, pr, pc,
                             np.ascontiguousarray(tile).tobytes(),
                             r.dtype, patch, patch)
                        )
            yield pd.DataFrame(
                out,
                columns=["img_id", "patch_row", "patch_col", "pixels",
                         "dtype", "height", "width"],
            )

    return images.mapInPandas(run, PATCH_SCHEMA)


def dhash_images(images: DataFrame) -> DataFrame:
    """Difference hash (dHash) per image: downsample to
    ``DHASH_H × (DHASH_W+1)`` by index sampling
    (``yi = y*H // DHASH_H``, ``xi = x*W // (DHASH_W+1)``), one bit per
    adjacent-column comparison (left > right), row-major. Returned as a
    '0'/'1' string of ``DHASH_H*DHASH_W`` chars — engine-portable,
    directly groupable.

    This is the image-side near-dup key (X2×X7): invariant under
    brightness/contrast shifts that preserve pixel order, cheap enough
    to run inline in the decode pass, and groupable exactly like a text
    content hash — at 100 TB the dedup is one shuffle of 64-bit-string
    keys, never pixels. Hamming-banded blocking (the SimHash pigeonhole
    split) extends it to small-distortion matching."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = np.frombuffer(r.pixels, dtype=np.dtype(r.dtype)).reshape(
                    r.height, r.width
                )
                yi = (np.arange(DHASH_H, dtype=np.int64) * r.height) // DHASH_H
                xi = (
                    np.arange(DHASH_W + 1, dtype=np.int64) * r.width
                ) // (DHASH_W + 1)
                s = arr[np.ix_(yi, xi)].astype(np.int64)
                bits = (s[:, :-1] > s[:, 1:]).astype(np.uint8).ravel()
                out.append(
                    (r.img_id, "".join("1" if b else "0" for b in bits))
                )
            yield pd.DataFrame(out, columns=["img_id", "dhash"])

    return images.mapInPandas(run, "img_id long, dhash string")


def shot_boundaries(videos: DataFrame, threshold: int = 1500) -> DataFrame:
    """Video shot-boundary detection: the L1 distance between
    consecutive frames, a cut wherever it exceeds ``threshold`` — the
    segmentation step a video training pipeline runs before sampling
    frames per shot (sampling per-video oversamples long static shots).

    A video's frames arrive as ONE binary row, so the frame-pair
    differencing is pure narrow work inside the Arrow batch: no
    shuffle, no explode of raw pixels; only the detected cut rows
    (video, frame index, distance) leave the executor. At 100 TB the
    output is boundary-sparse while the pixel payload never moves."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = (
                    np.frombuffer(r.frames, dtype=np.dtype(r.dtype))
                    .reshape(r.n_frames, r.height * r.width)
                    .astype(np.int64)
                )
                d = np.abs(np.diff(arr, axis=0)).sum(axis=1)
                for i, v in enumerate(d, start=1):
                    if v > threshold:
                        out.append((r.vid_id, i, int(v)))
            yield pd.DataFrame(out, columns=["vid_id", "frame_idx", "l1"])

    return videos.mapInPandas(run, "vid_id long, frame_idx int, l1 long")


def image_entropy(images: DataFrame) -> DataFrame:
    """Per-image Shannon entropy of the pixel histogram plus the distinct
    gray-level count — the classic blank/low-information frame detector
    a multimodal curation pipeline gates on (near-zero entropy = blank
    or synthetic fill; the signal pairs with dHash for cheap visual
    dedup triage). Computed in the Arrow batch with one bincount per
    image; rounded to 6 places so a closed-form oracle can re-derive it.
    Returns (img_id, n_levels, entropy_nats)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = np.frombuffer(r.pixels, dtype=np.dtype(r.dtype))
                counts = np.bincount(arr.astype(np.int64), minlength=0)
                counts = counts[counts > 0]
                p = counts / arr.size
                ent = float(-(p * np.log(p)).sum())
                out.append((int(r.img_id), int(counts.size),
                            round(ent, 6) + 0.0))
            yield pd.DataFrame(
                out, columns=["img_id", "n_levels", "entropy_nats"]
            )

    return images.mapInPandas(
        run, "img_id long, n_levels int, entropy_nats double"
    )


def audio_frame_features(clips: DataFrame) -> DataFrame:
    """Frame-level waveform features — the framing step every audio
    pipeline runs before any spectral transform: split each clip into
    fixed 256-sample windows (full frames only; the ragged tail
    carries no complete window) and emit per-frame integer energy and
    zero-crossing counts.

    Same integer-exactness contract as ``audio_features``: Σs² and
    sign-flip counts are int64, so a closed-form synthetic corpus is
    re-derivable exactly by any engine. One Arrow-batched pass, output
    rows = clips × n_frames; the reshape is a numpy view (no copy),
    per-frame reductions vectorized over the frame axis.
    """
    frame = 256

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                s = np.frombuffer(
                    r.samples, dtype=np.dtype(r.dtype)
                ).astype(np.int64)
                n_frames = len(s) // frame
                if n_frames == 0:
                    continue
                fr = s[: n_frames * frame].reshape(n_frames, frame)
                energy = (fr * fr).sum(axis=1)
                nonneg = fr >= 0
                zc = (nonneg[:, 1:] != nonneg[:, :-1]).sum(axis=1)
                for k in range(n_frames):
                    out.append(
                        (int(r.clip_id), k, int(energy[k]), int(zc[k]))
                    )
            yield pd.DataFrame(
                out,
                columns=["clip_id", "frame_idx", "energy", "n_zero_cross"],
            )

    return clips.mapInPandas(
        feats,
        "clip_id long, frame_idx int, energy long, n_zero_cross long",
    )


def hist_equalize_stats(images: DataFrame) -> DataFrame:
    """Per-image histogram equalization (the classic contrast
    normalizer: remap each gray level through the image's own CDF so
    levels spread over the full range) with integer-exact accounting:
    ``lut[v] = (cdf[v] − cdf_min)·255 // (npx − cdf_min)`` — pure
    integer floor arithmetic, so the equalized pixel sum and the
    post-equalization level count are bit-reproducible and a closed-
    form corpus is re-derivable by any engine.

    One numpy bincount + cumsum + LUT gather per image inside the
    Arrow batch — the same kernel shape OpenCV's equalizeHist runs,
    minus the float rounding that would break the differential gate.
    """

    def eq(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                px = np.frombuffer(r.pixels, dtype=np.uint8).astype(
                    np.int64
                )
                npx = px.size
                hist = np.bincount(px, minlength=256)
                cdf = hist.cumsum()
                occupied = cdf[hist > 0]
                cdf_min = int(occupied[0]) if occupied.size else 0
                den = npx - cdf_min
                if den <= 0:  # constant image: everything maps to 0
                    eqpx = np.zeros_like(px)
                else:
                    lut = ((cdf - cdf_min).clip(min=0) * 255) // den
                    eqpx = lut[px]
                out.append(
                    (
                        int(r.img_id),
                        int(eqpx.sum()),
                        int(np.unique(eqpx).size),
                    )
                )
            yield pd.DataFrame(
                out, columns=["img_id", "eq_pixel_sum", "n_levels"]
            )

    return images.mapInPandas(
        eq, "img_id long, eq_pixel_sum long, n_levels int"
    )


def audio_silence_gate(clips: DataFrame) -> DataFrame:
    """VAD-style silence gate per clip — the audio-corpus quality
    filter: frame the waveform into 256-sample frames
    (``audio_frame_features``'s framing), call a frame "silent" when
    its integer energy Σs² falls below 89,000,000, and report per-clip
    frame counts plus the silence ratio in ppm. Mostly-silent clips are
    dead weight in a speech corpus; an all-silent clip is usually a
    decode failure.

    Composition, not new kernel code: the Arrow-batched framing pass
    emits integer energies, and everything after is a JVM-side
    aggregation — so the gate inherits ``audio_frame_features``'s
    exactness (a closed-form synthetic corpus re-derives it in SQL)
    and its scale shape (one mapInPandas pass, one
    map-side-combined groupBy(clip)).
    """
    frames = audio_frame_features(clips)
    return (
        frames.groupBy("clip_id")
        .agg(
            F.count("*").cast("bigint").alias("n_frames"),
            F.sum(
                (F.col("energy") < 89_000_000).cast("long")
            )
            .cast("bigint")
            .alias("n_silent"),
        )
        .selectExpr(
            "clip_id",
            "n_frames",
            "n_silent",
            "CAST(n_silent * 1000000 DIV n_frames AS BIGINT) "
            "AS silence_ppm",
        )
    )


def plant_watermark(images: DataFrame) -> DataFrame:
    """Overwrite the 8×8 tile at grid position (1, 1) of every 5th
    image (``img_id % 5 == 0``) with a FIXED pattern (w[i] = i·13 % 200)
    — the deterministic stand-in for a corpus whose pages carry a
    shared logo/watermark. Pure narrow Arrow work; the closed-form
    pattern keeps the corpus fully SQL-rederivable (the multimodal
    oracle contract)."""
    mark = (np.arange(64, dtype=np.int64) * 13 % 200).reshape(8, 8)

    def plant(img_id: int, arr: np.ndarray) -> np.ndarray:
        if img_id % 5:
            return arr
        out = arr.copy()
        out[8:16, 8:16] = mark.astype(arr.dtype)
        return out

    return map_pixels(images, plant)


def patch_dhash(patches: DataFrame) -> DataFrame:
    """dHash per TILE, keyed by (img_id, patch_row, patch_col) — the
    region-level perceptual key behind watermark/logo detection: a
    patch hash repeating across many otherwise-distinct images at the
    same grid position is boilerplate imagery, the pixel analogue of a
    boilerplate n-gram. Same sampling/bit contract as
    ``dhash_images``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = np.frombuffer(
                    r.pixels, dtype=np.dtype(r.dtype)
                ).reshape(r.height, r.width)
                yi = (np.arange(DHASH_H, dtype=np.int64) * r.height) // DHASH_H
                xi = (
                    np.arange(DHASH_W + 1, dtype=np.int64) * r.width
                ) // (DHASH_W + 1)
                s = arr[np.ix_(yi, xi)].astype(np.int64)
                bits = (s[:, :-1] > s[:, 1:]).astype(np.uint8).ravel()
                out.append(
                    (r.img_id, r.patch_row, r.patch_col,
                     "".join("1" if b else "0" for b in bits))
                )
            yield pd.DataFrame(
                out, columns=["img_id", "patch_row", "patch_col", "dhash"]
            )

    return patches.mapInPandas(
        run, "img_id long, patch_row int, patch_col int, dhash string"
    )
