"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video travel as `binary` columns with a small metadata
struct; decode/feature-extraction runs as Arrow-batched mapInPandas.
What is REAL here without any codec library: header metadata probes
for PNG/GIF/JPEG/WAV/AVI (public byte layouts), and full PIXEL decode
for PNG (zlib inflate + all five scanline filters), GIF (pure-Python
variable-width LZW incl. interlace and the KwKwK case), baseline
grayscale JPEG (canonical Huffman + dequant + IDCT), and binary
PGM/PPM (decode_*_pixels, bottom of this file). The
NotImplementedError contract now covers only the documented variant
gaps (progressive/color JPEG, video codecs); a deterministic fake
decoder remains for those paths so the Spark-side plumbing — schema,
batch iteration, partitioning — stays exercised end-to-end.

At scale: binary columns stay columnar in parquet, mapInPandas
processes Arrow batches (no per-row Python), and decode parallelism is
partition parallelism — repartition by size buckets before decoding to
even out skew from large blobs.

Media fixtures: every synthesized corpus is `synth_media(ids, encode)`
(or `_synth_batch(encode)` mapped directly), a (doc_id, payload)
relation of MEDIA_SCHEMA. `encode` maps an int doc id to the bytes of
one real container (synth_png, synth_png_palette, synth_gif,
synth_jpeg, synth_wav_pcm, synth_avi_frames, synth_av) and the kernel
is named after it, so a plan says which format it synthesizes. Ids
>= PHASH_CLONE_OFFSET are clones (clone_ids adds one per 20th doc):
the clone encoders synth_png_clone / synth_avi_clone re-encode the
base id's pixels with one grid-sample pixel perturbed. Each encoder's
pixels or samples are integer formulas of the doc id that the DuckDB
twins state on their own.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .spread import spread_for_kernel

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)


MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def _synth_batch(encode):
    """Arrow-batched fixture synthesis (doc_id -> payload =
    encode(doc_id)), named `<encoder>_batch` for the plan."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd  # local import: executors only

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [encode(int(d)) for d in pdf["doc_id"]],
                }
            )

    run.__name__ = f"{encode.__name__}_batch"
    return run


def synth_media(ids: DataFrame, encode) -> DataFrame:
    """(doc_id, payload binary) of `encode`'s real container bytes per
    id — narrow mapInPandas over the spread doc_id relation
    (parallelism floor, operators/spread.py); the binary column stays
    columnar exactly as a parquet-stored media column would."""
    return spread_for_kernel(ids.select("doc_id"), "doc_id").mapInPandas(
        _synth_batch(encode), MEDIA_SCHEMA
    )


def binarize_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stand-in media table: (doc_id, payload binary, kind, n_bytes).
    Real pipelines read binary columns straight from parquet."""
    payload = F.encode(F.col(text_col), "utf-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.length(payload).cast("long").alias("n_bytes"),
    )


def codec_available() -> bool:
    """True when a real image codec (PIL) is importable. Audio/video
    (libav/ffmpeg) are probed the same way when those paths grow a
    real decoder."""
    import importlib.util

    return importlib.util.find_spec("PIL") is not None


def probe_image_header(blob: bytes):
    """Pure-Python image header probe: (width, height, n_frames) from
    the PUBLIC byte layouts of PNG (incl. APNG acTL frame count),
    GIF (87a/89a, frames counted by walking the block structure) and
    JPEG (SOI + marker segments, dimensions from the first SOFn frame
    header), or None when the bytes are none of these. Reads ONLY
    headers/descriptors — never inflates pixel data — so it is
    O(container structure), not O(pixels): the codec-less fallback
    that keeps real image metadata extraction executable in
    containers without PIL.

    PNG layout: 8-byte signature, then length-prefixed chunks
    (4B big-endian length, 4B type, data, 4B CRC); IHDR data starts
    with width/height as big-endian uint32; an APNG's acTL chunk
    (before IDAT) carries num_frames. GIF layout: 6B signature,
    logical-screen w/h as little-endian uint16, optional global color
    table, then a block stream where 0x2C introduces an image
    descriptor (one per frame), 0x21 an extension, 0x3B the trailer;
    tables/sub-blocks are skipped by their declared sizes.

    JPEG layout (ITU T.81): 0xFFD8 SOI, then marker segments — 0xFF,
    a marker code, and (for non-standalone markers) a 2-byte
    big-endian length that includes itself. The first frame header
    SOFn (0xC0-0xCF minus 0xC4 DHT / 0xC8 JPG / 0xCC DAC) carries
    sample precision (1B) then height and width as big-endian
    uint16s. The walk stops — returning None — at SOS/EOI without a
    SOF (no dimensions exist) or on a broken marker stream; RST/TEM
    standalone markers and 0xFF fill bytes are skipped per spec.
    Baseline and progressive both answer, since every SOFn shares
    the frame-header layout; n_frames is 1 (JPEG has no animation)."""
    import struct

    if len(blob) >= 24 and blob[:8] == b"\x89PNG\r\n\x1a\n":
        if blob[12:16] != b"IHDR":
            return None
        w, h = struct.unpack(">II", blob[16:24])
        n_frames, pos = 1, 8
        while pos + 8 <= len(blob):
            (ln,) = struct.unpack(">I", blob[pos : pos + 4])
            ctype = blob[pos + 4 : pos + 8]
            if ctype == b"acTL" and pos + 12 <= len(blob):
                (n_frames,) = struct.unpack(
                    ">I", blob[pos + 8 : pos + 12]
                )
            if ctype in (b"IDAT", b"IEND"):
                break
            pos += 12 + ln
        return int(w), int(h), max(int(n_frames), 1)
    if len(blob) >= 13 and blob[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", blob[6:10])
        packed = blob[10]
        pos = 13 + (3 * (2 << (packed & 7)) if packed & 0x80 else 0)

        def skip_subblocks(p: int) -> int:
            while p < len(blob) and blob[p] != 0:
                p += 1 + blob[p]
            return p + 1

        frames = 0
        while pos < len(blob):
            b = blob[pos]
            if b == 0x2C:  # image descriptor -> one frame
                frames += 1
                lpacked = blob[pos + 9] if pos + 9 < len(blob) else 0
                pos += 10
                if lpacked & 0x80:
                    pos += 3 * (2 << (lpacked & 7))
                pos += 1  # LZW minimum code size
                pos = skip_subblocks(pos)
            elif b == 0x21:  # extension: label + sub-blocks
                pos = skip_subblocks(pos + 2)
            else:  # 0x3B trailer or junk
                break
        return int(w), int(h), max(frames, 1)
    if len(blob) >= 4 and blob[:2] == b"\xff\xd8":
        pos = 2
        while pos + 4 <= len(blob):
            if blob[pos] != 0xFF:
                return None  # broken marker stream
            while blob[pos + 1] == 0xFF:  # fill bytes before a marker
                pos += 1
                if pos + 4 > len(blob):
                    return None
            marker = blob[pos + 1]
            if marker == 0x01 or 0xD0 <= marker <= 0xD8:
                pos += 2  # standalone: TEM, RSTn, (redundant) SOI
                continue
            if marker in (0xD9, 0xDA):
                return None  # EOI / scan start with no SOF seen
            (ln,) = struct.unpack(">H", blob[pos + 2 : pos + 4])
            if ln < 2:
                return None
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                # The frame header must DECLARE room for precision +
                # height + width (length includes its own 2 bytes, so
                # >= 7) — otherwise the bytes after it belong to the
                # next marker and would unpack as garbage dimensions.
                if ln < 7 or pos + 9 > len(blob):
                    return None  # corrupt/truncated frame header
                h, w = struct.unpack(">HH", blob[pos + 5 : pos + 9])
                return int(w), int(h), 1
            pos += 2 + ln
        return None
    return None


def decode_media(blob: bytes, kind: str):
    """REAL per-blob decoder: dispatches to PIL for images when the
    codec is importable (width, height, n_frames from the actual
    container bytes — animated GIFs report their frame count); when
    PIL is absent OR raises on a specific blob (corrupt tail,
    unsupported variant), the pure-Python header probe
    (probe_image_header) gets its shot before the
    NotImplementedError contract applies, so real image metadata
    decode executes even in codec-less containers. The per-blob call IS the cost model at scale;
    batching happens a level up in real_decode_batch. Video
    containers get the pure-Python AVI header probe (width, height,
    frame count from the avih main header — probe_video_header);
    audio has no (width, height, frames)-shaped metadata, so it lives
    in its own relation (av_probe_documents / AV_PROBE_SCHEMA) and
    raises here — callers fall back to fake_decode_batch, which is
    deterministic and schema-identical. Frame decode for codecs
    (libav/ffmpeg) is genuinely absent in this container."""
    if kind == "image":
        if codec_available():
            import io

            from PIL import Image

            try:
                with Image.open(io.BytesIO(blob)) as im:
                    return (
                        im.width,
                        im.height,
                        getattr(im, "n_frames", 1),
                    )
            except Exception:
                # PIL importable but this blob defeats it (corrupt
                # tail, unsupported variant): fall through to the
                # header probe, which may still parse the header —
                # only if BOTH fail does the NotImplementedError
                # contract below apply.
                pass
        probed = probe_image_header(blob)
        if probed is not None:
            return probed
    if kind == "video":
        probed = probe_video_header(blob)
        if probed is not None:
            return probed
    raise NotImplementedError(
        f"no codec for kind={kind!r} in this environment; "
        "use fake_decode_batch"
    )


def _fake_meta(doc_id: int, blob: bytes):
    """The fake decoder's per-blob metadata formulas (scalar form,
    shared with fake_decode_batch's vectorized path)."""
    n = len(blob)
    first = blob[0] if n else 0
    return 16 + first % 16, 16 + n % 16, 1 + doc_id % 8


def real_decode_batch(batches):
    """Arrow-batched wrapper over decode_media: batch iteration and
    schema identical to fake_decode_batch, so the two are drop-in
    interchangeable. Dispatch is PER KIND: image blobs go through the
    real decode ladder (PIL where importable, falling back to the
    pure-Python header probe when PIL is absent OR fails on a blob;
    bytes NEITHER path can read fail loud with NotImplementedError);
    video blobs get the pure-Python AVI probe with the fake as the
    non-AVI fallback; audio falls back to the deterministic fake (its
    real probe lives in av_probe_documents with an audio-shaped
    schema) — the documented degradation, not a crash on the
    two-thirds of a media table PIL cannot read.
    Requires the `kind` column in the batch."""
    import pandas as pd  # local import: executors only

    for pdf in batches:
        meta = [
            decode_media(blob, kind)
            if kind == "image"
            else (
                probe_video_header(blob) or _fake_meta(doc_id, blob)
                if kind == "video"
                else _fake_meta(doc_id, blob)
            )
            for doc_id, blob, kind in zip(
                pdf["doc_id"], pdf["payload"], pdf["kind"]
            )
        ]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": pdf["payload"].str.len().astype("int64"),
                "width": pd.Series(
                    [m[0] for m in meta], dtype="int32"
                ),
                "height": pd.Series(
                    [m[1] for m in meta], dtype="int32"
                ),
                "n_frames": pd.Series(
                    [m[2] for m in meta], dtype="int32"
                ),
            }
        )


def fake_decode_batch(batches):
    """Deterministic fake decode: metadata derived from payload bytes.
    Arrow-batched — the hot loop is vectorized pandas, not per-row."""
    import pandas as pd  # local import: executors only

    for pdf in batches:
        n = pdf["payload"].str.len()
        first = pdf["payload"].str[:1].apply(
            lambda b: b[0] if len(b) else 0
        )
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": n.astype("int64"),
                "width": (16 + first % 16).astype("int32"),
                "height": (16 + n % 16).astype("int32"),
                "n_frames": (1 + (pdf["doc_id"] % 8)).astype("int32"),
            }
        )


def decode_documents(
    media: DataFrame, use_codec: bool | None = None
) -> DataFrame:
    """mapInPandas over the binary column → typed metadata relation.

    use_codec=None auto-selects: the real PIL-backed batch decoder
    when the codec is importable (images through PIL — corrupt image
    bytes fail loud; codec-less kinds degrade to the deterministic
    fake per row), the fake for everything otherwise. The registered
    oracle query pins use_codec=False — its payloads are utf-8 text
    stand-ins the fake derives metadata from, and the DuckDB twin
    mirrors those formulas; real codec output is pinned by
    tests/test_multimodal.py's PNG round-trip instead (skipped where
    PIL is absent)."""
    if use_codec is None:
        use_codec = codec_available()
    if use_codec:
        return media.select("doc_id", "payload", "kind").mapInPandas(
            real_decode_batch, DECODED_SCHEMA
        )
    return media.select("doc_id", "payload").mapInPandas(
        fake_decode_batch, DECODED_SCHEMA
    )


FRAMES_RAW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_bytes", T.BinaryType()),
    ]
)


def frame_sample_batch(batches):
    """1-to-N frame sampling: each payload expands to n_frames rows
    (n = 1 + doc_id % 8, matching the fake decoder). Real pipelines
    would seek keyframes here; the fan-out/batch mechanics are what
    must scale. Fully vectorized (index-repeat + cumcount, no per-row
    Python): frame_bytes stands in for the decoded frame buffer a real
    codec would emit — with a real codec THAT per-frame C-library call
    is the cost model, not the interpreter. Downstream per-frame work
    that built-ins can express (hashing here) runs JVM-side instead."""
    import pandas as pd

    for pdf in batches:
        if not len(pdf):
            continue
        n = (1 + pdf["doc_id"] % 8).astype("int64")
        rep = pdf.loc[pdf.index.repeat(n)].reset_index(drop=True)
        idx = rep.groupby("doc_id").cumcount().astype("int64")
        yield pd.DataFrame(
            {
                "doc_id": rep["doc_id"],
                "frame_idx": idx,
                "frame_bytes": rep["payload"],
            }
        )


def sample_frames(media: DataFrame) -> DataFrame:
    """mapInPandas fan-out → (doc_id, frame_idx, frame_md5), one row
    per sampled frame. The digest (stand-in for per-frame feature
    extraction expressible with built-ins) is whole-stage-codegen
    `md5`, not Python."""
    frames = media.select("doc_id", "payload").mapInPandas(
        frame_sample_batch, FRAMES_RAW_SCHEMA
    )
    sep = F.encode(F.lit(":"), "utf-8")
    tag = F.encode(F.col("frame_idx").cast("string"), "utf-8")
    return frames.select(
        "doc_id",
        "frame_idx",
        F.md5(F.concat(F.col("frame_bytes"), sep, tag)).alias("frame_md5"),
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("resized", T.BinaryType()),
    ]
)


def resize_batch(stride: int):
    """Deterministic resize stand-in: keep every `stride`-th byte of
    the payload (a real image resize is a C-library call per blob;
    the byte-stride keeps the same 1-blob-in/1-smaller-blob-out batch
    mechanics and is reproducible in the oracle). Vectorized via
    pandas .str slicing over the Arrow batch."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            resized = pdf["payload"].str[::stride]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["payload"].str.len().astype("int64"),
                    "resized": resized,
                }
            )

    return run


def resize_media(media: DataFrame, stride: int = 2) -> DataFrame:
    """mapInPandas resize pass → (doc_id, n_bytes, resized_md5,
    resized_bytes count). The digest of the downsampled payload is
    computed JVM-side (built-in md5) like sample_frames."""
    out = media.select("doc_id", "payload").mapInPandas(
        resize_batch(stride), RESIZED_SCHEMA
    )
    return out.select(
        "doc_id",
        "n_bytes",
        F.length("resized").cast("long").alias("resized_bytes"),
        F.md5("resized").alias("resized_md5"),
    )


# ---------------------------------------------------------------------------
# Audio/video header probes (pure Python, public RIFF byte layouts)
# ---------------------------------------------------------------------------

def synth_wav(
    sample_rate: int, channels: int, n_samples: int, bits: int = 16
) -> bytes:
    """Minimal canonical PCM WAV (RIFF/WAVE with fmt + data chunks,
    public layout) — the fixture generator for the probe round-trip:
    the probe must recover exactly these parameters from the real
    bytes."""
    import struct

    block = channels * bits // 8
    data = b"\x00" * (n_samples * block)
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * block,
        block, bits,
    )
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def synth_avi(
    width: int, height: int, n_frames: int, usec_per_frame: int = 33333
) -> bytes:
    """Minimal AVI (RIFF/'AVI ' with a LIST/hdrl holding the 56-byte
    avih main header, public layout)."""
    import struct

    avih = struct.pack(
        "<IIIIIIIIII4I",
        usec_per_frame, 0, 0, 0, n_frames, 0, 1, 0, width, height,
        0, 0, 0, 0,
    )
    hdrl = b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
    lst = b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
    return b"RIFF" + struct.pack("<I", 4 + len(lst)) + b"AVI " + lst


def _riff_chunks(blob: bytes, start: int):
    """Yield (chunk_id, body_offset, size) walking a RIFF chunk
    stream; chunks are word-aligned (odd sizes padded by one byte)."""
    p = start
    while p + 8 <= len(blob):
        cid = blob[p : p + 4]
        size = int.from_bytes(blob[p + 4 : p + 8], "little")
        yield cid, p + 8, size
        p = p + 8 + size + (size & 1)


def probe_audio_header(blob: bytes):
    """Pure-Python WAV header probe: (sample_rate, channels, bits,
    n_samples) from the public RIFF/WAVE layout — fmt chunk for the
    stream parameters, data chunk size over the block align for the
    sample count. Reads ONLY chunk headers (never sample data), so it
    is O(container structure). None when the bytes are not WAV."""
    import struct

    if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        return None
    sr = ch = bits = block = None
    data_size = None
    for cid, body, size in _riff_chunks(blob, 12):
        if cid == b"fmt " and body + 16 <= len(blob):
            _, ch, sr, _, block, bits = struct.unpack(
                "<HHIIHH", blob[body : body + 16]
            )
        elif cid == b"data":
            data_size = size
    if sr is None or data_size is None or not block:
        return None
    return sr, ch, bits, data_size // block


def probe_video_header(blob: bytes):
    """Pure-Python AVI header probe: (width, height, n_frames) from
    the public RIFF/'AVI ' layout — the avih main header inside the
    LIST/hdrl chunk. None when the bytes are not AVI."""
    import struct

    if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"AVI ":
        return None
    for cid, body, size in _riff_chunks(blob, 12):
        if cid == b"LIST" and blob[body : body + 4] == b"hdrl":
            for cid2, body2, size2 in _riff_chunks(blob, body + 4):
                if cid2 == b"avih" and size2 >= 40 and body2 + 40 <= len(
                    blob
                ):
                    vals = struct.unpack(
                        "<10I", blob[body2 : body2 + 40]
                    )
                    return vals[8], vals[9], vals[4]
    return None


AV_PROBE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)


def av_probe_batch(batches):
    """Arrow-batched audio/video header probing over a binary media
    column: WAV rows fill (sample_rate, channels, n_samples), AVI
    rows fill (width, height, n_frames), other columns NULL; bytes
    neither probe can read fail loud (the decode_media contract)."""
    import pandas as pd  # local import: executors only

    for pdf in batches:
        rows = []
        for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
            a = probe_audio_header(blob)
            if a is not None:
                sr, ch, bits, ns = a
                rows.append(
                    (doc_id, "audio", len(blob), sr, ch, ns,
                     None, None, None)
                )
                continue
            v = probe_video_header(blob)
            if v is not None:
                w, h, nf = v
                rows.append(
                    (doc_id, "video", len(blob), None, None, None,
                     w, h, nf)
                )
                continue
            raise NotImplementedError(
                f"doc_id={doc_id}: bytes are neither WAV nor AVI"
            )
        yield pd.DataFrame(
            rows,
            columns=[f.name for f in AV_PROBE_SCHEMA.fields],
        ).astype(
            {
                "sample_rate": "Int32", "channels": "Int32",
                "n_samples": "Int32", "width": "Int32",
                "height": "Int32", "n_frames": "Int32",
            }
        )


def _av_synth_params(doc_id: int):
    """Closed-form fixture parameters per doc (shared with the DuckDB
    twin, which computes these directly while Spark must RECOVER them
    from the synthesized bytes): even ids are WAV, odd ids AVI."""
    if doc_id % 2 == 0:
        return (
            "audio",
            8000 + (doc_id % 5) * 1600,       # sample_rate
            1 + (doc_id // 2) % 2,            # channels
            100 + doc_id % 37,                # n_samples
        )
    return (
        "video",
        320 + (doc_id % 7) * 16,              # width
        240 + (doc_id % 5) * 16,              # height
        10 + doc_id % 23,                     # n_frames
    )


def synth_av(doc_id: int) -> bytes:
    """Real WAV (even ids) or AVI (odd ids) container with the
    closed-form parameters of _av_synth_params."""
    kind, a, b, c = _av_synth_params(doc_id)
    return (synth_wav if kind == "audio" else synth_avi)(a, b, c)


def av_probe_documents(docs: DataFrame) -> DataFrame:
    """End-to-end audio/video metadata plumbing: synthesize real
    RIFF containers (WAV/AVI) per doc id, then RECOVER the stream
    parameters from the bytes with the pure-Python header probes —
    the same two-mapInPandas shape a production pipeline uses
    (read binary column -> Arrow batches -> typed metadata relation),
    with the decode step executing real byte-layout parsing rather
    than a stub. Both mapInPandas stages are Arrow-batched; the probe
    reads only headers, never media payloads, so per-row cost is
    O(container structure) at any payload size."""
    # No spread floor here (round-15 measurement): the probe reads
    # container headers only and the minimal synth containers are
    # cheap — the whole pipeline is ~0.25 s single-core, below the
    # exchange overhead a spread would add.
    media = docs.select("doc_id").mapInPandas(
        _synth_batch(synth_av), MEDIA_SCHEMA
    )
    return media.mapInPandas(av_probe_batch, AV_PROBE_SCHEMA)


# ---------------------------------------------------------------------------
# Real pixel decode: PNG (zlib inflate + all five scanline filters)
# and binary PPM/PGM — pure stdlib, no codec library. This retires
# the "pixels are a header-probe stand-in" caveat for these formats:
# image_phash_decoded (operators/imagehash.py) hashes REAL decoded
# pixels end-to-end. Entropy-coded formats (JPEG huffman, GIF LZW,
# video codecs) still raise NotImplementedError — that contract now
# covers ONLY genuinely absent decoders.
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# PNG color type -> samples per pixel (bit depth 8 only):
# 0 grayscale, 2 RGB, 4 gray+alpha, 6 RGBA. Palette (3) needs a PLTE
# lookup this decoder does not implement.
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # 3 = palette (1 index byte/px)


def _paeth(a: int, b: int, c: int) -> int:
    """The PNG Paeth predictor (RFC 2083 §6.6): nearest of left/up/
    upper-left to p = a + b - c, ties broken left, up, upper-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _luma(r: int, g: int, b: int) -> int:
    """Integer BT.601 luma, (299R + 587G + 114B) div 1000 — chosen
    over the float form so the DuckDB oracle twin can reproduce it
    bit-exactly with integer `//`."""
    return (299 * r + 587 * g + 114 * b) // 1000


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def encode_png(rows, color_type: int = 0, row_filter=None, palette=None) -> bytes:
    """Minimal REAL PNG encoder (bit depth 8, no interlace): rows of
    gray ints (color type 0), channel tuples (2/4/6), or palette
    indices (color type 3 with `palette` = list of (r, g, b) — a
    PLTE chunk is emitted before IDAT), one IHDR + one
    zlib-compressed IDAT + IEND, correct CRCs. `row_filter(y)`
    picks the scanline filter (0-4, default all-None) — the fixture
    hook that lets tests and synth_png exercise every filter type the
    decoder must undo. PIL round-trip-verified where PIL exists."""
    import struct
    import zlib

    if color_type == 3 and palette is None:
        raise ValueError("palette PNG (color type 3) needs a palette")
    ch = _PNG_CHANNELS[color_type]
    h, w = len(rows), len(rows[0])
    raw = bytearray()
    prev = bytes(w * ch)
    for y, row in enumerate(rows):
        cur = bytearray()
        for px in row:
            if ch == 1:
                cur.append(px & 255)
            else:
                cur.extend(v & 255 for v in px)
        f = int(row_filter(y)) if row_filter is not None else 0
        raw.append(f)
        for i in range(len(cur)):
            a = cur[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            pred = (
                0 if f == 0
                else a if f == 1
                else b if f == 2
                else (a + b) >> 1 if f == 3
                else _paeth(a, b, c)
            )
            raw.append((cur[i] - pred) & 255)
        prev = bytes(cur)
    ihdr = struct.pack(">II5B", w, h, 8, color_type, 0, 0, 0)
    plte = (
        _png_chunk(
            b"PLTE",
            bytes(v & 255 for rgb in palette for v in rgb),
        )
        if color_type == 3
        else b""
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + plte
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png_pixels(blob: bytes):
    """REAL PNG pixel decode, pure stdlib: walk the chunk stream
    (CRC-checked), inflate the concatenated IDAT payload with zlib,
    undo the per-scanline filter (all five types incl. Paeth), and
    return (width, height, grayscale rows as bytes) — RGB/RGBA rows
    collapse through the integer BT.601 luma, gray+alpha drops
    alpha, palette indices (color type 3, round 13) map through the
    PLTE entries' luma. Raises NotImplementedError for the layouts
    this decoder does not cover (bit depth != 8, interlaced) and
    ValueError for corrupt bytes (bad CRC, bad filter id, payload /
    dimension mismatch, missing/short PLTE) — corrupt data fails
    loud, never fabricates pixels."""
    import struct
    import zlib

    if blob[:8] != _PNG_SIG:
        raise NotImplementedError("not a PNG byte stream")
    pos, dims, ctype, idat, plte = 8, None, None, bytearray(), None
    while pos + 12 <= len(blob):
        (ln,) = struct.unpack(">I", blob[pos : pos + 4])
        typ = blob[pos + 4 : pos + 8]
        body = blob[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack(
            ">I", blob[pos + 8 + ln : pos + 12 + ln]
        )
        if crc != zlib.crc32(typ + body) & 0xFFFFFFFF:
            raise ValueError(f"PNG chunk {typ!r} CRC mismatch")
        if typ == b"IHDR":
            w, h, depth, ctype, _comp, _filt, inter = struct.unpack(
                ">II5B", body
            )
            if depth != 8 or inter != 0 or ctype not in _PNG_CHANNELS:
                raise NotImplementedError(
                    f"PNG layout not covered: depth={depth} "
                    f"color_type={ctype} interlace={inter}"
                )
            dims = (w, h)
        elif typ == b"PLTE":
            if ln % 3 != 0:
                raise ValueError("PNG PLTE length not a multiple of 3")
            plte = bytes(body)
        elif typ == b"IDAT":
            idat += body
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if dims is None:
        raise ValueError("PNG without IHDR")
    if ctype == 3 and plte is None:
        raise ValueError("palette PNG without PLTE")
    w, h = dims
    ch = _PNG_CHANNELS[ctype]
    stride = w * ch
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG pixel payload size mismatch")
    rows, prev, pos = [], bytes(stride), 0
    for _y in range(h):
        f = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if f == 1:
            for i in range(len(line)):
                if i >= ch:
                    line[i] = (line[i] + line[i - ch]) & 255
        elif f == 2:
            for i in range(len(line)):
                line[i] = (line[i] + prev[i]) & 255
        elif f == 3:
            for i in range(len(line)):
                a = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 255
        elif f == 4:
            for i in range(len(line)):
                a = line[i - ch] if i >= ch else 0
                c = prev[i - ch] if i >= ch else 0
                line[i] = (line[i] + _paeth(a, prev[i], c)) & 255
        elif f != 0:
            raise ValueError(f"bad PNG filter id {f}")
        if ch == 1 and ctype == 3:
            if any(3 * i + 2 >= len(plte) for i in line):
                raise ValueError("PNG palette index out of range")
            gray = bytes(
                _luma(plte[3 * i], plte[3 * i + 1], plte[3 * i + 2])
                for i in line
            )
        elif ch == 1:
            gray = bytes(line)
        elif ch == 2:
            gray = bytes(line[0::2])
        else:
            gray = bytes(
                _luma(line[i * ch], line[i * ch + 1], line[i * ch + 2])
                for i in range(w)
            )
        rows.append(gray)
        prev = bytes(line)
    return w, h, rows


def decode_ppm_pixels(blob: bytes):
    """Binary PGM (P5, grayscale) / PPM (P6, RGB) pixel decode —
    the uncompressed-raster companion to decode_png_pixels. Header
    tokens (width, height, maxval) may be separated by whitespace or
    '#' comments per the netpbm spec; maxval must be 255. Returns
    (width, height, grayscale rows as bytes), P6 through the same
    integer luma as the PNG path."""
    magic = blob[:2]
    if magic not in (b"P5", b"P6"):
        raise NotImplementedError("not a binary PGM/PPM byte stream")
    vals, pos = [], 2
    while len(vals) < 3:
        if pos >= len(blob):
            raise ValueError("truncated PGM/PPM header")
        b = blob[pos]
        if b == 0x23:  # '#' comment to end of line
            while pos < len(blob) and blob[pos] not in (10, 13):
                pos += 1
        elif b in (9, 10, 13, 32):
            pos += 1
        elif 48 <= b <= 57:
            v = 0
            while pos < len(blob) and 48 <= blob[pos] <= 57:
                v = v * 10 + (blob[pos] - 48)
                pos += 1
            vals.append(v)
        else:
            raise ValueError("bad PGM/PPM header byte")
    w, h, maxval = vals
    if maxval != 255:
        raise NotImplementedError("PGM/PPM maxval != 255 not covered")
    pos += 1  # exactly one whitespace byte before the raster
    ch = 1 if magic == b"P5" else 3
    data = blob[pos : pos + w * h * ch]
    if len(data) != w * h * ch:
        raise ValueError("PGM/PPM raster size mismatch")
    rows = []
    for y in range(h):
        line = data[y * w * ch : (y + 1) * w * ch]
        if ch == 1:
            rows.append(bytes(line))
        else:
            rows.append(
                bytes(
                    _luma(line[i * 3], line[i * 3 + 1], line[i * 3 + 2])
                    for i in range(w)
                )
            )
    return w, h, rows


def decode_image_pixels(blob: bytes):
    """Format-dispatching REAL pixel decode: PNG, GIF, baseline
    grayscale JPEG, and binary PGM/PPM all decode to (width, height,
    grayscale rows) — every image container family the header probe
    reads now has a real pixel path. NotImplementedError remains for
    the variants each decoder documents (progressive/color JPEG,
    16-bit/interlaced/palette PNG) and for non-image bytes — the same
    fail-loud contract as decode_media."""
    if blob[:8] == _PNG_SIG:
        return decode_png_pixels(blob)
    if blob[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif_pixels(blob)
    if blob[:2] == b"\xff\xd8":
        return decode_jpeg_pixels(blob)
    if blob[:2] in (b"P5", b"P6"):
        return decode_ppm_pixels(blob)
    raise NotImplementedError(
        "no pixel decoder for this byte format (PNG, GIF, baseline "
        "grayscale JPEG, and binary PGM/PPM decode here)"
    )


def gray_grid_samples(w: int, h: int, rows, grid_r: int, grid_cols: int):
    """Point-sample a decoded grayscale image down to the dHash grid:
    sample (r, c) reads pixel (r*(h-1) div (grid_r-1),
    c*(w-1) div (grid_cols-1)) — corners exact, interior uniform, the
    same div lattice imagehash.pixel_pos uses over text payloads, so
    the DuckDB oracle can address the identical pixel by formula."""
    return [
        rows[(r * (h - 1)) // (grid_r - 1)][(c * (w - 1)) // (grid_cols - 1)]
        for r in range(grid_r)
        for c in range(grid_cols)
    ]


# Synth-PNG fixture lattice: dimensions, color type, and per-channel
# pixel formulas are all integer functions of doc_id SQL can state,
# so the oracle computes ground-truth pixels directly while the Spark
# path must recover them through a REAL encode -> zlib -> unfilter
# round trip — any decoder defect breaks the hash equality.
PNG_W_BASE, PNG_W_MOD = 9, 8  # width  9..16
PNG_H_BASE, PNG_H_MOD = 8, 5  # height 8..12


def synth_png_pixels(doc_id: int):
    """Ground-truth pixels for synth_png(doc_id): (w, h, color_type,
    rows). Color type cycles gray/RGB/RGBA by doc_id % 3; channels
    are affine-mod-256 in (doc_id, row, col) — mirrored literally in
    SQL_IMAGE_PHASH_DECODED (registry_extensions.py)."""
    w = PNG_W_BASE + doc_id % PNG_W_MOD
    h = PNG_H_BASE + doc_id % PNG_H_MOD
    ctype = (0, 2, 6)[doc_id % 3]
    rows = []
    for r in range(h):
        row = []
        for c in range(w):
            if ctype == 0:
                row.append((doc_id * 7 + r * 13 + c * 31) % 256)
            else:
                px = (
                    (doc_id * 5 + r * 11 + c * 17) % 256,
                    (doc_id * 3 + r * 7 + c * 19) % 256,
                    (doc_id * 13 + r * 3 + c * 23) % 256,
                )
                if ctype == 6:
                    px = (*px, (doc_id + r + c) % 256)
                row.append(px)
        rows.append(row)
    return w, h, ctype, rows


def synth_png(doc_id: int) -> bytes:
    """Deterministic real PNG per doc id; the scanline filter cycles
    (doc_id + y) % 5 so every corpus exercises all five filter
    types."""
    w, h, ctype, rows = synth_png_pixels(doc_id)
    del w, h
    return encode_png(
        rows, ctype, row_filter=lambda y: (doc_id + y) % 5
    )


# Palette (color type 3) fixture: entry i of the 256-entry PLTE is
# ((i*37)%256, (i*59)%256, (i*83)%256) — full-period affine maps (the
# multipliers are odd), so the palette is a nontrivial permutation of
# each channel and a decoder that misreads PLTE (or skips the index
# indirection) cannot luckily agree with the oracle.
PLT_R_MUL, PLT_G_MUL, PLT_B_MUL = 37, 59, 83


def synth_png_palette_pixels(doc_id: int):
    """Ground-truth for synth_png_palette(doc_id): (w, h, palette,
    index rows). Index formula is affine-mod-256 in (doc_id, row,
    col) — mirrored literally in SQL_IMAGE_PHASH_PALETTE
    (plans/ext_round13.py)."""
    w = PNG_W_BASE + doc_id % PNG_W_MOD
    h = PNG_H_BASE + doc_id % PNG_H_MOD
    palette = [
        (
            (i * PLT_R_MUL) % 256,
            (i * PLT_G_MUL) % 256,
            (i * PLT_B_MUL) % 256,
        )
        for i in range(256)
    ]
    rows = [
        [(doc_id * 11 + r * 5 + c * 7) % 256 for c in range(w)]
        for r in range(h)
    ]
    return w, h, palette, rows


def synth_png_palette(doc_id: int) -> bytes:
    """Deterministic real palette PNG per doc id; scanline filters
    cycle all five types like synth_png."""
    _w, _h, palette, rows = synth_png_palette_pixels(doc_id)
    return encode_png(
        rows, 3, row_filter=lambda y: (doc_id + y) % 5, palette=palette
    )


# ---------------------------------------------------------------------------
# GIF pixel decode (pure-Python LZW) + fixture encoder. With this the
# only image format whose PIXELS this module cannot decode is JPEG
# (huffman + DCT entropy decode — genuinely absent); PNG, GIF and
# binary PGM/PPM all decode for real.
# ---------------------------------------------------------------------------


def _lzw_compress(indices, mcs: int) -> bytes:
    """Real GIF-flavor LZW compressor over palette indices (variable
    code width starting at mcs+1, CLEAR on dictionary overflow at
    4096, END terminator) — the fixture encoder that forces
    decode_gif_pixels to exercise genuine dictionary references, not
    just literal codes. Returns the packed little-endian bitstream
    (pre-sub-blocking)."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    out_bits = []  # (code, width) pairs
    table = {(i,): i for i in range(1 << mcs)}
    next_code, width = end + 1, mcs + 1
    out_bits.append((clear, width))
    seq = ()
    for px in indices:
        cand = seq + (px,)
        if cand in table:
            seq = cand
            continue
        out_bits.append((table[seq], width))
        table[cand] = next_code
        next_code += 1
        if next_code > (1 << width) and width < 12:
            width += 1
        elif next_code >= 4096:
            out_bits.append((clear, width))
            table = {(i,): i for i in range(1 << mcs)}
            next_code, width = end + 1, mcs + 1
        seq = (px,)
    if seq:
        out_bits.append((table[seq], width))
    out_bits.append((end, width))
    buf, acc, nbits = bytearray(), 0, 0
    for code, w in out_bits:
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            buf.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        buf.append(acc & 0xFF)
    return bytes(buf)


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def encode_gif(
    index_rows, palette, interlace: bool = False
) -> bytes:
    """Minimal REAL GIF89a encoder: global color table from `palette`
    (list of (r, g, b), length padded to a power of two), one image
    descriptor, real LZW-compressed pixel indices, optional Adam-free
    GIF row interlace. The fixture side of the decode round-trip."""
    import struct

    h, w = len(index_rows), len(index_rows[0])
    size_bits = max(1, (max(len(palette) - 1, 1)).bit_length())
    n_pal = 1 << size_bits
    pal = list(palette) + [(0, 0, 0)] * (n_pal - len(palette))
    lsd = struct.pack(
        "<HHBBB", w, h, 0x80 | (size_bits - 1) << 4 | (size_bits - 1), 0, 0
    )
    gct = bytes(v for rgb in pal for v in rgb)
    idesc = struct.pack(
        "<BHHHHB", 0x2C, 0, 0, w, h, 0x40 if interlace else 0
    )
    rows = index_rows
    if interlace:
        order = [
            y
            for start, step in _GIF_INTERLACE_PASSES
            for y in range(start, h, step)
        ]
        rows = [index_rows[y] for y in order]
    flat = [px for row in rows for px in row]
    mcs = max(2, size_bits)
    lzw = _lzw_compress(flat, mcs)
    blocks = bytearray([mcs])
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return (
        b"GIF89a" + lsd + gct + idesc + bytes(blocks) + b"\x3b"
    )


def decode_gif_pixels(blob: bytes):
    """REAL GIF pixel decode, pure Python: logical screen descriptor,
    global/local color table, full variable-width LZW (CLEAR/END,
    dictionary growth to 4096, the KwKwK special case), GIF row
    de-interlacing, palette lookup collapsed through the same integer
    BT.601 luma as the PNG path. First image frame only (animation
    frames carry no extra information for fingerprinting). Raises
    NotImplementedError for non-GIF bytes and ValueError for corrupt
    streams — fail loud, never fabricate pixels."""
    import struct

    if blob[:6] not in (b"GIF87a", b"GIF89a"):
        raise NotImplementedError("not a GIF byte stream")
    w0, h0 = struct.unpack("<HH", blob[6:10])
    packed = blob[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        gct = blob[pos : pos + 3 * n]
        pos += 3 * n

    def skip_subblocks(p: int) -> int:
        while p < len(blob) and blob[p] != 0:
            p += 1 + blob[p]
        return p + 1

    while pos < len(blob):
        b = blob[pos]
        if b == 0x21:  # extension
            pos = skip_subblocks(pos + 2)
        elif b == 0x2C:  # image descriptor: decode this frame
            _l, _t, w, h = struct.unpack("<HHHH", blob[pos + 1 : pos + 9])
            lpacked = blob[pos + 9]
            pos += 10
            pal = gct
            if lpacked & 0x80:
                n = 2 << (lpacked & 7)
                pal = blob[pos : pos + 3 * n]
                pos += 3 * n
            if pal is None:
                raise ValueError("GIF frame without a color table")
            interlaced = bool(lpacked & 0x40)
            mcs = blob[pos]
            pos += 1
            data = bytearray()
            while pos < len(blob) and blob[pos] != 0:
                ln = blob[pos]
                data += blob[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            indices = _lzw_decompress(bytes(data), mcs, w * h)
            if len(indices) < w * h:
                raise ValueError("GIF pixel data truncated")
            grid = [indices[y * w : (y + 1) * w] for y in range(h)]
            if interlaced:
                out = [None] * h
                it = iter(grid)
                for start, step in _GIF_INTERLACE_PASSES:
                    for y in range(start, h, step):
                        out[y] = next(it)
                grid = out
            npal = len(pal) // 3
            luma = [
                _luma(pal[3 * i], pal[3 * i + 1], pal[3 * i + 2])
                for i in range(npal)
            ]
            rows = []
            for line in grid:
                try:
                    rows.append(bytes(luma[i] for i in line))
                except IndexError:
                    raise ValueError(
                        "GIF index outside color table"
                    ) from None
            return w, h, rows
        else:  # trailer or junk
            break
    raise ValueError(f"GIF with no image frame ({w0}x{h0} screen)")


def _lzw_decompress(data: bytes, mcs: int, max_px: int):
    """GIF LZW decoder: variable width from mcs+1, CLEAR resets the
    table, END stops, dictionary entries are prev + first(cur) with
    the KwKwK case (code == next_code) handled per spec. Stops after
    max_px pixels (a frame's worth)."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    acc = nbits = 0
    width = mcs + 1
    table = [(i,) for i in range(1 << mcs)] + [(), ()]
    prev = None
    out = []
    i = 0
    while i < len(data) or nbits >= width:
        while nbits < width and i < len(data):
            acc |= data[i] << nbits
            nbits += 8
            i += 1
        if nbits < width:
            break
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [(j,) for j in range(1 << mcs)] + [(), ()]
            width = mcs + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("bad first LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + (entry[0],))
        elif code == len(table):  # KwKwK
            entry = prev + (prev[0],)
            table.append(entry)
        else:
            raise ValueError("LZW code beyond dictionary")
        out.extend(entry)
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
        if len(out) >= max_px:
            break
    return out


# Synth-GIF fixture lattice: like synth_png_pixels, dimensions and
# the palette-index formula are integer functions of doc_id SQL can
# state. The palette is the 256-entry grayscale ramp (i, i, i), whose
# integer BT.601 luma is exactly i — so ground-truth gray == the index
# formula and the oracle needs no palette table. Interlace alternates
# by doc_id so half the corpus exercises the de-interlace path.
GIF_GRAY_PALETTE = [(i, i, i) for i in range(256)]


def synth_gif_pixels(doc_id: int):
    """Ground-truth palette indices for synth_gif(doc_id):
    (w, h, index rows). Mirrored literally in SQL_IMAGE_PHASH_GIF
    (registry_extensions.py)."""
    w = PNG_W_BASE + doc_id % PNG_W_MOD
    h = PNG_H_BASE + doc_id % PNG_H_MOD
    rows = [
        [(doc_id * 11 + r * 17 + c * 7) % 256 for c in range(w)]
        for r in range(h)
    ]
    return w, h, rows


def synth_gif(doc_id: int) -> bytes:
    """Deterministic real GIF per doc id (LZW-compressed for real;
    odd doc ids interlaced)."""
    _w, _h, rows = synth_gif_pixels(doc_id)
    return encode_gif(
        rows, GIF_GRAY_PALETTE, interlace=bool(doc_id % 2)
    )


# ---------------------------------------------------------------------------
# Baseline JPEG (grayscale) pixel decode + fixture encoder — pure
# Python/numpy over the PUBLIC ITU T.81 layout: DQT/SOF0/DHT/SOS
# segment parse, canonical Huffman decode (Annex K tables in the
# fixture encoder), DC differential coding, zigzag, dequantization,
# 8x8 IDCT, level shift, edge cropping, 0xFF00 byte unstuffing. With
# this, all three image container families (PNG, GIF, JPEG) decode
# REAL pixels; what remains out of scope is multi-component chroma
# (3-channel JPEGs raise NotImplementedError, as do progressive
# scans) — honest partial support, fail-loud beyond it.
#
# Certification trick (image_phash_jpeg): JPEG is lossy, so a
# formula-stated oracle is normally impossible — EXCEPT for images
# that are constant on each 8x8 block. A flat block's DCT spectrum is
# DC-only, the Annex K DC quantum (16) divides 8*(v-128) whenever
# v-128 is even, and the IDCT of a DC-only block is exactly flat — so
# encode->decode is BIT-EXACT and the oracle can state the decoded
# pixel as the block formula. The decoder still runs its full real
# path (huffman, dequant, IDCT, crop) to get there.
# ---------------------------------------------------------------------------

# Annex K luminance quantization table (zigzag order) and Huffman
# specs (BITS, HUFFVAL) — public ITU T.81 constants.
_JPEG_QTBL = [
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _huff_codes(bits, vals):
    """Canonical Huffman (T.81 C.2): value -> (code, length)."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


def _dct_mat():
    import numpy as np

    m = np.zeros((8, 8))
    for u in range(8):
        cu = (1 / (2 ** 0.5)) if u == 0 else 1.0
        for x in range(8):
            m[u, x] = 0.5 * cu * __import__("math").cos(
                (2 * x + 1) * u * __import__("math").pi / 16
            )
    return m


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self):
        if self.n:
            self.acc = (self.acc << (8 - self.n)) | ((1 << (8 - self.n)) - 1)
            self.buf.append(self.acc)
            if self.acc == 0xFF:
                self.buf.append(0x00)
            self.acc = self.n = 0
        return bytes(self.buf)


def _category(v: int):
    """T.81 F.1.2.1: (size category, raw bits) of a DC diff / AC
    value — negative values encode as value-1 in `size` low bits."""
    if v == 0:
        return 0, 0
    a, s = abs(v), 0
    while a:
        a >>= 1
        s += 1
    return s, (v if v >= 0 else v + (1 << s) - 1)


def encode_jpeg_gray(rows, qtbl=None) -> bytes:
    """Minimal REAL baseline JPEG encoder, grayscale single component:
    full FDCT per 8x8 block (numpy), zigzag + quantization against
    `qtbl` (Annex K luminance by default; pass [1]*64 for a
    near-lossless fixture), DC differential coding, Annex K canonical
    Huffman, byte stuffing, SOI/DQT/SOF0/DHT/SOS/EOI segments. Edge
    blocks pad by edge replication."""
    import struct

    import numpy as np

    q = list(qtbl) if qtbl is not None else list(_JPEG_QTBL)
    h, w = len(rows), len(rows[0])
    img = np.asarray(rows, dtype=np.float64)
    bh, bw = (h + 7) // 8, (w + 7) // 8
    padded = np.pad(
        img, ((0, bh * 8 - h), (0, bw * 8 - w)), mode="edge"
    )
    m = _dct_mat()
    dc_codes = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    bw_ = _BitWriter()
    prev_dc = 0
    # q is in ZIGZAG order (as stored in DQT); build natural-order grid
    qnat = np.empty(64)
    for zi, nat in enumerate(_ZIGZAG):
        qnat[nat] = q[zi]
    qnat = qnat.reshape(8, 8)
    for by in range(bh):
        for bx in range(bw):
            blk = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
            f = m @ blk @ m.T
            coef = np.rint(f / qnat).astype(int)
            zz = [int(coef.flat[nat]) for nat in _ZIGZAG]
            diff = zz[0] - prev_dc
            prev_dc = zz[0]
            s, bits = _category(diff)
            code, ln = dc_codes[s]
            bw_.put(code, ln)
            if s:
                bw_.put(bits, s)
            run = 0
            last_nz = 0
            for i in range(63, 0, -1):
                if zz[i]:
                    last_nz = i
                    break
            for i in range(1, last_nz + 1):
                if zz[i] == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = ac_codes[0xF0]  # ZRL
                    bw_.put(code, ln)
                    run -= 16
                s, bits = _category(zz[i])
                code, ln = ac_codes[(run << 4) | s]
                bw_.put(code, ln)
                bw_.put(bits, s)
                run = 0
            if last_nz < 63:
                code, ln = ac_codes[0x00]  # EOB
                bw_.put(code, ln)
    scan = bw_.flush()
    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(q)
    sof = (
        b"\xff\xc0"
        + struct.pack(">H", 11)
        + b"\x08"
        + struct.pack(">HH", h, w)
        + b"\x01\x01\x11\x00"
    )
    dht = (
        b"\xff\xc4"
        + struct.pack(">H", 2 + 1 + 16 + len(_JPEG_DC_VALS))
        + b"\x00"
        + bytes(_JPEG_DC_BITS)
        + bytes(_JPEG_DC_VALS)
        + b"\xff\xc4"
        + struct.pack(">H", 2 + 1 + 16 + len(_JPEG_AC_VALS))
        + b"\x10"
        + bytes(_JPEG_AC_BITS)
        + bytes(_JPEG_AC_VALS)
    )
    sos = b"\xff\xda" + struct.pack(">H", 8) + b"\x01\x01\x00\x00\x3f\x00"
    return b"\xff\xd8" + dqt + sof + dht + sos + scan + b"\xff\xd9"


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG scan data exhausted")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data):
                    raise ValueError("JPEG marker in scan tail")
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # unstuff
                else:
                    raise ValueError(
                        f"unexpected marker 0xFF{nxt:02X} in scan"
                    )
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v


def _huff_decoder(bits, vals):
    """(code, length) -> value lookup for canonical Huffman."""
    table, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map `s` raw bits to the signed value."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg_pixels(blob: bytes):
    """REAL baseline JPEG pixel decode, grayscale single component:
    segment walk, DQT/DHT/SOF0/SOS parse, canonical Huffman decode of
    the entropy-coded scan (byte unstuffing, DC differential, EOB/ZRL
    runs), dequantization, zigzag inverse, 8x8 IDCT (numpy), level
    shift + clamp, MCU-edge cropping. Returns (width, height,
    grayscale rows as bytes). Raises NotImplementedError for
    progressive scans (SOF2), arithmetic coding, multi-component
    (color) images, and restart intervals; ValueError for corrupt
    streams."""
    import struct

    import numpy as np

    if blob[:2] != b"\xff\xd8":
        raise NotImplementedError("not a JPEG byte stream")
    pos = 2
    qtbls: dict = {}
    dc_tbl: dict = {}
    ac_tbl: dict = {}
    dims = None
    comp_q = 0
    comp_dc = comp_ac = 0
    scan = None
    while pos + 4 <= len(blob):
        if blob[pos] != 0xFF:
            raise ValueError("broken JPEG marker stream")
        marker = blob[pos + 1]
        if marker == 0xD9:
            break
        (ln,) = struct.unpack(">H", blob[pos + 2 : pos + 4])
        body = blob[pos + 4 : pos + 2 + ln]
        if marker == 0xDB:  # DQT (possibly several tables)
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit DQT not covered")
                qtbls[tq] = list(body[p + 1 : p + 65])
                p += 65
        elif marker == 0xC4:  # DHT (possibly several tables)
            p = 0
            while p < len(body):
                tc, th = body[p] >> 4, body[p] & 0xF
                bits = list(body[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(body[p + 17 : p + 17 + nv])
                (dc_tbl if tc == 0 else ac_tbl)[th] = _huff_decoder(
                    bits, vals
                )
                p += 17 + nv
        elif marker == 0xC0:  # SOF0 baseline
            h, w = struct.unpack(">HH", body[1:5])
            ncomp = body[5]
            if ncomp != 1:
                raise NotImplementedError(
                    "multi-component (color) JPEG not covered"
                )
            if body[7] != 0x11:
                raise NotImplementedError("subsampled JPEG not covered")
            comp_q = body[8]
            dims = (w, h)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9,
                        0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG frame type 0xFF{marker:02X} not covered "
                "(baseline SOF0 only)"
            )
        elif marker == 0xDD:
            raise NotImplementedError("restart intervals not covered")
        elif marker == 0xDA:  # SOS: entropy data follows
            comp_dc = body[2] >> 4
            comp_ac = body[2] & 0xF
            scan = blob[pos + 2 + ln :]
            break
        pos += 2 + ln
    if dims is None or scan is None:
        raise ValueError("JPEG without SOF/SOS")
    w, h = dims
    q = qtbls.get(comp_q)
    dc = dc_tbl.get(comp_dc)
    ac = ac_tbl.get(comp_ac)
    if q is None or dc is None or ac is None:
        raise ValueError("JPEG references a missing DQT/DHT table")
    # strip the EOI if present so stray 0xFFD9 never reads as data
    end = scan.rfind(b"\xff\xd9")
    if end != -1:
        scan = scan[:end]
    rd = _BitReader(scan)

    def read_code(table):
        code, ln = 0, 0
        while ln < 16:
            code = (code << 1) | rd.bit()
            ln += 1
            if (ln, code) in table:
                return table[(ln, code)]
        raise ValueError("invalid JPEG Huffman code")

    m = _dct_mat()
    qnat = np.empty(64)
    for zi, nat in enumerate(_ZIGZAG):
        qnat[nat] = q[zi]
    bh, bw = (h + 7) // 8, (w + 7) // 8
    out = np.empty((bh * 8, bw * 8), dtype=np.float64)
    prev_dc = 0
    for by in range(bh):
        for bx in range(bw):
            zz = [0] * 64
            s = read_code(dc)
            diff = _extend(rd.bits(s), s) if s else 0
            prev_dc += diff
            zz[0] = prev_dc
            i = 1
            while i < 64:
                rs = read_code(ac)
                if rs == 0x00:  # EOB
                    break
                if rs == 0xF0:  # ZRL
                    i += 16
                    continue
                run, size = rs >> 4, rs & 0xF
                i += run
                if i > 63 or size == 0:
                    raise ValueError("corrupt JPEG AC run")
                zz[i] = _extend(rd.bits(size), size)
                i += 1
            coef = np.zeros(64)
            for zi, nat in enumerate(_ZIGZAG):
                coef[nat] = zz[zi]
            f = coef.reshape(8, 8) * qnat.reshape(8, 8)
            blk = m.T @ f @ m + 128.0
            out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = blk
    pix = np.clip(np.rint(out[:h, :w]), 0, 255).astype(np.uint8)
    return w, h, [bytes(pix[y]) for y in range(h)]


def synth_jpeg_pixels(doc_id: int):
    """Ground-truth pixels for synth_jpeg(doc_id): (w, h, rows),
    CONSTANT on every 8x8 block with even offsets from 128 — the
    construction that makes baseline JPEG bit-exact (DC-only spectra;
    Annex K DC quantum 16 divides 8*(v-128)), so the oracle can state
    the decoded pixel as this formula. Mirrored literally in
    SQL_IMAGE_PHASH_JPEG (registry_extensions.py)."""
    w = PNG_W_BASE + doc_id % PNG_W_MOD
    h = PNG_H_BASE + doc_id % PNG_H_MOD
    rows = [
        [
            64 + 2 * ((doc_id * 3 + (r // 8) * 5 + (c // 8) * 7) % 64)
            for c in range(w)
        ]
        for r in range(h)
    ]
    return w, h, rows


def synth_jpeg(doc_id: int) -> bytes:
    """Deterministic real baseline JPEG per doc id (Annex K tables,
    real Huffman scan)."""
    _w, _h, rows = synth_jpeg_pixels(doc_id)
    return encode_jpeg_gray(rows)


# Near-dup clone corpora: every 20th doc gains a clone id
# PHASH_CLONE_OFFSET above it whose media re-encodes the base's pixels
# with exactly ONE sampled grid pixel pushed far away (<= 2 dHash
# bits, inside the banded join's pigeonhole-exact d<=3 recall
# guarantee).
PHASH_CLONE_OFFSET = 1_000_000
PERTURB_SAMPLE_R, PERTURB_SAMPLE_C = 2, 2  # grid sample index 20


def clone_ids(docs: DataFrame) -> DataFrame:
    """The doc ids plus one clone id (doc_id + PHASH_CLONE_OFFSET)
    per doc_id % 20 == 0."""
    d = docs.select("doc_id")
    clones = d.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + F.lit(PHASH_CLONE_OFFSET)).alias("doc_id")
    )
    return d.unionByName(clones)


def _perturb(grid, w: int, h: int) -> None:
    """Push grid sample (PERTURB_SAMPLE_R, PERTURB_SAMPLE_C) of a
    w x h gray grid far away in place: > 60 -> 1, else 120 (the same
    rule as the text-payload clone corpus)."""
    pr = PERTURB_SAMPLE_R * (h - 1) // 7
    pc = PERTURB_SAMPLE_C * (w - 1) // 8
    grid[pr][pc] = 1 if grid[pr][pc] > 60 else 120


def synth_png_gray_of(doc_id: int):
    """The decoded-luma grid of synth_png(doc_id) as plain ints —
    what decode_png_pixels returns for that image, computed directly
    from the fixture formulas."""
    w, h, ctype, rows = synth_png_pixels(doc_id)
    if ctype == 0:
        return w, h, [list(r) for r in rows]
    return w, h, [[_luma(px[0], px[1], px[2]) for px in r] for r in rows]


def synth_png_clone(doc_id: int) -> bytes:
    """Decoded near-dup fixture: base ids -> synth_png; clone ids ->
    a GRAYSCALE PNG of the base's decoded luma (same content,
    different container/color type and scanline filters) with one
    perturbed grid sample."""
    if doc_id < PHASH_CLONE_OFFSET:
        return synth_png(doc_id)
    base = doc_id - PHASH_CLONE_OFFSET
    w, h, gray = synth_png_gray_of(base)
    _perturb(gray, w, h)
    return encode_png(gray, 0, row_filter=lambda y: (base + y + 3) % 5)


# ---------------------------------------------------------------------------
# Real AUDIO sample decode (WAV PCM) + fingerprint fixture, and real
# VIDEO frame extraction (AVI movi LIST with uncompressed 24bpp DIB
# frames). With these, all three modalities have REAL payload-decode
# paths: image pixels (PNG/GIF/JPEG above), audio samples, and video
# frames — the fake decoder remains only for compressed A/V codecs.
# ---------------------------------------------------------------------------


def decode_wav_samples(blob: bytes):
    """REAL WAV PCM decode: RIFF chunk walk (the same public layout
    probe_audio_header reads) plus the DATA chunk decoded to int
    samples. 16-bit signed little-endian and 8-bit unsigned PCM,
    mono or interleaved multichannel (channel 0 returned — the
    fingerprint channel). Returns (sample_rate, channels, samples
    list). Raises NotImplementedError for non-WAV bytes or other
    sample widths, ValueError for corrupt streams."""
    import struct

    if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise NotImplementedError("not a RIFF/WAVE byte stream")
    sr = ch = bits = block = None
    data = None
    for cid, body, size in _riff_chunks(blob, 12):
        if cid == b"fmt " and body + 16 <= len(blob):
            fmt_tag, ch, sr, _, block, bits = struct.unpack(
                "<HHIIHH", blob[body : body + 16]
            )
            if fmt_tag != 1:
                raise NotImplementedError(
                    f"WAV format tag {fmt_tag} not covered (PCM only)"
                )
        elif cid == b"data":
            data = blob[body : body + size]
            if len(data) != size:
                raise ValueError("WAV data chunk truncated")
    if sr is None or data is None or not block:
        raise ValueError("WAV without fmt/data chunks")
    if bits == 16:
        n = len(data) // block
        if block == 2:
            # mono fast path: ONE bulk unpack instead of n
            # unpack_from calls (round 15 — same values, ~10x less
            # per-sample Python overhead)
            samples = list(struct.unpack(f"<{n}h", data[: n * 2]))
        else:
            samples = [
                struct.unpack_from("<h", data, i * block)[0]
                for i in range(n)
            ]
    elif bits == 8:
        n = len(data) // block
        samples = [data[i * block] - 128 for i in range(n)]
    else:
        raise NotImplementedError(f"WAV bit depth {bits} not covered")
    return sr, ch, samples


# Audio fingerprint fixture: 16-bit mono PCM whose samples are an
# integer formula of (doc_id, i) — SQL-stateable, so the oracle
# computes per-frame energy / zero-crossing ground truth directly
# while the Spark path recovers samples through a REAL WAV encode ->
# RIFF walk -> int16 decode round trip.
AUDIO_SR = 8000
AUDIO_FRAME = 160  # 20 ms at 8 kHz — the standard speech frame


def synth_wav_samples(doc_id: int):
    """Ground-truth samples for synth_wav_pcm: n = (5 + doc_id % 5)
    frames of 160; s[i] = ((doc_id*31 + i*17) % 4001) - 2000.
    Mirrored literally in SQL_AUDIO_FINGERPRINT."""
    n = (5 + doc_id % 5) * AUDIO_FRAME
    return [((doc_id * 31 + i * 17) % 4001) - 2000 for i in range(n)]


def synth_wav_pcm(doc_id: int) -> bytes:
    """Deterministic real 16-bit mono PCM WAV per doc id."""
    import struct

    samples = synth_wav_samples(doc_id)
    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, AUDIO_SR, AUDIO_SR * 2, 2, 16)
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("energy", T.LongType()),
        T.StructField("zcr", T.IntegerType()),
    ]
)


def wav_features_batch(batches: Iterator) -> Iterator:
    """Arrow-batched REAL audio decode + per-frame features fused in
    one kernel (round 15, guide §4.2): WAV payloads -> (doc_id,
    frame_idx, energy, zcr) with the math vectorized in numpy —
    energy = Σ|s| (int64, exact), zcr = #(s[i]·s[i+1] < 0) within
    the frame. Replaces the interpreted aggregate/zip_with array
    lambdas the JVM evaluated per sample, and only 4 scalars per
    frame cross the Arrow boundary instead of the 160-sample
    array."""
    import numpy as np
    import pandas as pd  # local import: executors only

    for pdf in batches:
        doc_ids, idxs, energies, zcrs = [], [], [], []
        for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
            _sr, _ch, samples = decode_wav_samples(blob)
            nf = len(samples) // AUDIO_FRAME
            if nf == 0:
                continue
            s = np.asarray(
                samples[: nf * AUDIO_FRAME], dtype=np.int64
            ).reshape(nf, AUDIO_FRAME)
            en = np.abs(s).sum(axis=1)
            zc = ((s[:, :-1] * s[:, 1:]) < 0).sum(axis=1)
            doc_ids.extend([doc_id] * nf)
            idxs.extend(range(nf))
            energies.extend(en.tolist())
            zcrs.extend(zc.tolist())
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(doc_ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int32"),
                "energy": pd.Series(energies, dtype="int64"),
                "zcr": pd.Series(zcrs, dtype="int32"),
            }
        )


def wav_block_means_batch(k: int):
    """Arrow-batched REAL audio decode + per-frame block means fused
    in one kernel (round 15, guide §4.2): WAV payloads -> (doc_id,
    frame_idx, means array of AUDIO_FRAME/k ints). The mean is the
    TRUNCATING div (toward zero — Spark `div` semantics, spelled as
    sign·(|sum| div k) so negative frame sums round identically),
    vectorized in numpy with exact int64 sums."""

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd  # local import: executors only

        kk = int(k)
        bpf = AUDIO_FRAME // kk
        for pdf in batches:
            doc_ids, idxs, means = [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
                _sr, _ch, samples = decode_wav_samples(blob)
                nf = len(samples) // AUDIO_FRAME
                if nf == 0:
                    continue
                s = np.asarray(
                    samples[: nf * AUDIO_FRAME], dtype=np.int64
                ).reshape(nf * bpf, kk)
                sums = s.sum(axis=1)
                m = (np.sign(sums) * (np.abs(sums) // kk)).reshape(
                    nf, bpf
                )
                doc_ids.extend([doc_id] * nf)
                idxs.extend(range(nf))
                means.extend(m.tolist())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "means": means,
                }
            )

    return run


AUDIO_MEANS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("means", T.ArrayType(T.LongType())),
    ]
)


def audio_fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, frame_idx, energy, zcr): the classic integer audio
    fingerprint — per 20 ms frame, total absolute amplitude and the
    zero-crossing count (sign products < 0 between neighbours) — over
    samples recovered from REAL WAV bytes. Round-15 shape (guide
    §4.2): decode AND the feature math run fused in one Arrow-batched
    kernel with the arithmetic vectorized in numpy (exact int64 — the
    previous JVM form evaluated interpreted aggregate/zip_with
    lambdas per sample, ~170 lambda invocations per frame), and only
    4 scalars per frame cross the Python boundary instead of the
    160-sample array. The only exchange is the small-input
    parallelism floor on the doc_id relation (inert at scale —
    operators/spread.py); at 100 TB the cost model is the per-blob
    PCM decode, partitioned like any other binary column."""
    media = synth_media(docs, synth_wav_pcm)
    return media.mapInPandas(wav_features_batch, AUDIO_FEATURES_SCHEMA)


# Video frame extraction: real AVI containers with uncompressed
# 24bpp DIB frames in the movi LIST — the standard BI_RGB layout
# (bottom-up rows, 4-byte row padding, BGR byte order). Compressed
# video codecs stay NotImplementedError.

VIDEO_W_BASE, VIDEO_W_MOD = 12, 5  # width  12..16
VIDEO_H_BASE, VIDEO_H_MOD = 8, 5   # height 8..12


def synth_avi_frames_pixels(doc_id: int):
    """Ground-truth grayscale frames for synth_avi_frames: (w, h,
    frames) with frames[f][r][c] = (doc_id*7 + f*29 + r*13 + c*31
    + doc_id*c*3 + f*r*11) % 256 — the doc_id*c and f*r cross terms
    make the COLUMN GRADIENT (what dHash measures) doc- and
    frame-dependent, so distinct videos hash apart instead of
    colliding on a shared linear ramp. Stored as BGR with B=G=R=g,
    whose integer luma is exactly g. Mirrored literally in
    SQL_VIDEO_FRAME_PHASH / SQL_VIDEO_NEARDUP."""
    w = VIDEO_W_BASE + doc_id % VIDEO_W_MOD
    h = VIDEO_H_BASE + doc_id % VIDEO_H_MOD
    nf = 2 + doc_id % 3
    frames = [
        [
            [
                (doc_id * 7 + f * 29 + r * 13 + c * 31
                 + doc_id * c * 3 + f * r * 11) % 256
                for c in range(w)
            ]
            for r in range(h)
        ]
        for f in range(nf)
    ]
    return w, h, frames


def encode_avi_frames(w: int, h: int, frames) -> bytes:
    """Minimal REAL AVI encoder: RIFF/'AVI ' with LIST/hdrl (avih
    main header + LIST/strl holding the vids strh and the
    BITMAPINFOHEADER strf declaring 24bpp BI_RGB) and LIST/movi
    carrying one uncompressed '00db' DIB per grayscale frame
    (bottom-up rows, 4-byte padding, B=G=R)."""
    import struct

    stride = (w * 3 + 3) & ~3
    fchunks = bytearray()
    for fr in frames:
        dib = bytearray()
        for r in range(h - 1, -1, -1):  # bottom-up
            row = bytearray()
            for c in range(w):
                g = fr[r][c]
                row += bytes((g, g, g))  # B, G, R
            row += b"\x00" * (stride - len(row))
            dib += row
        fchunks += b"00db" + struct.pack("<I", len(dib)) + dib
        if len(dib) & 1:
            fchunks += b"\x00"
    avih = struct.pack(
        "<IIIIIIIIII4I",
        33333, 0, 0, 0, len(frames), 0, 1, 0, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"DIB " + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0, 1,
                                        30, 0, len(frames), 0, 0, 0, 0)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 0, 0, 0, 0
    )
    strl = (
        b"strl"
        + b"strh" + struct.pack("<I", len(strh)) + strh
        + b"strf" + struct.pack("<I", len(strf)) + strf
    )
    hdrl = (
        b"hdrl"
        + b"avih" + struct.pack("<I", len(avih)) + avih
        + b"LIST" + struct.pack("<I", len(strl)) + strl
    )
    movi = b"movi" + bytes(fchunks)
    body = (
        b"AVI "
        + b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
        + b"LIST" + struct.pack("<I", len(movi)) + movi
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def synth_avi_frames(doc_id: int) -> bytes:
    """Deterministic real AVI per doc id (see
    synth_avi_frames_pixels for the frame formula)."""
    return encode_avi_frames(*synth_avi_frames_pixels(doc_id))


def decode_avi_frames(blob: bytes):
    """REAL AVI frame extraction: avih for dimensions, strf
    (BITMAPINFOHEADER) for the pixel layout contract — 24bpp BI_RGB
    only, compressed codecs raise NotImplementedError — then every
    '..db'/'..dc' chunk in the movi LIST decoded from the bottom-up
    padded BGR DIB layout to grayscale rows via the shared integer
    luma. Returns (w, h, [frame rows]). ValueError for corrupt
    streams."""
    import struct

    if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"AVI ":
        raise NotImplementedError("not a RIFF/AVI byte stream")
    dims = None
    bitcount = compression = None
    frames = []
    for cid, body, size in _riff_chunks(blob, 12):
        if cid != b"LIST":
            continue
        ltype = blob[body : body + 4]
        if ltype == b"hdrl":
            for c2, b2, s2 in _riff_chunks(blob, body + 4):
                if b2 >= body + size:
                    break
                if c2 == b"avih" and s2 >= 40:
                    vals = struct.unpack("<10I", blob[b2 : b2 + 40])
                    dims = (vals[8], vals[9])
                elif c2 == b"LIST" and blob[b2 : b2 + 4] == b"strl":
                    for c3, b3, s3 in _riff_chunks(blob, b2 + 4):
                        if b3 >= b2 + s2:
                            break
                        if c3 == b"strf" and s3 >= 20:
                            (
                                _sz, _w, _h, _planes, bitcount, compression,
                            ) = struct.unpack(
                                "<IiiHHI", blob[b3 : b3 + 20]
                            )
        elif ltype == b"movi":
            if dims is None:
                raise ValueError("AVI movi before avih")
            if compression not in (None, 0) or (
                bitcount not in (None, 24)
            ):
                raise NotImplementedError(
                    f"AVI frame codec not covered (bitcount={bitcount} "
                    f"compression={compression}); uncompressed 24bpp "
                    "BI_RGB only"
                )
            w, h = dims
            stride = (w * 3 + 3) & ~3
            for c2, b2, s2 in _riff_chunks(blob, body + 4):
                if b2 >= body + size:
                    break
                if c2[2:4] not in (b"db", b"dc"):
                    continue
                if s2 != stride * h:
                    raise ValueError("AVI frame size mismatch")
                rows = []
                for r in range(h):
                    src = b2 + (h - 1 - r) * stride
                    rows.append(
                        bytes(
                            _luma(
                                blob[src + 3 * c + 2],
                                blob[src + 3 * c + 1],
                                blob[src + 3 * c],
                            )
                            for c in range(w)
                        )
                    )
                frames.append(rows)
    if dims is None:
        raise ValueError("AVI without avih header")
    return dims[0], dims[1], frames


def synth_avi_clone(doc_id: int) -> bytes:
    """Video near-dup fixture: base ids -> synth_avi_frames; clone
    ids -> the base video re-rendered with one perturbed grid sample
    in FRAME 0, so the clone shares n_frames - 1 bit-identical frame
    hashes with its base and one near frame — the
    re-encoded-with-a-watermark shape frame-level video dedup exists
    to catch."""
    if doc_id < PHASH_CLONE_OFFSET:
        return synth_avi_frames(doc_id)
    w, h, frames = synth_avi_frames_pixels(doc_id - PHASH_CLONE_OFFSET)
    _perturb(frames[0], w, h)
    return encode_avi_frames(w, h, frames)


AUDIO_ACTIVE_ENERGY = 160_000  # ≈ frame mean |s|·160; synth spread 109k-211k


def audio_energy_segments(
    docs: DataFrame, threshold: int = AUDIO_ACTIVE_ENERGY
) -> DataFrame:
    """Energy-based activity segmentation (VAD shape) over REAL WAV
    PCM decode: frames whose total absolute amplitude reaches
    `threshold` are active; maximal runs of consecutive active frames
    merge into segments. Returns (doc_id, seg_start, seg_end,
    n_frames, total_energy) — the segment table an audio curation
    pipeline uses to cut silence and keep speech-dense spans.

    Scale shape: frame features come from the zero-shuffle decode
    path (audio_fingerprint); segmentation is the classic
    islands-and-gaps rewrite — ONE exchange on doc_id, a row_number
    over the per-video frame order, and the run key frame_idx - rn
    (constant within each consecutive run), then a per-run aggregate
    on the SAME partitioning. No self-joins, no per-row Python."""
    from pyspark.sql import Window

    fp = audio_fingerprint(docs)
    act = fp.filter(F.col("energy") >= F.lit(int(threshold)))
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy("frame_idx")
    )
    runs = act.withColumn("__run", F.col("frame_idx") - rn)
    return (
        runs.groupBy("doc_id", "__run")
        .agg(
            F.min("frame_idx").alias("seg_start"),
            F.max("frame_idx").alias("seg_end"),
            F.count("*").cast("long").alias("n_frames"),
            F.sum("energy").cast("long").alias("total_energy"),
        )
        .drop("__run")
    )


THUMB_T = 4  # thumbnail grid: THUMB_T x THUMB_T block means

THUMB_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("w", T.LongType()),
        T.StructField("h", T.LongType()),
        T.StructField("thumb", T.StringType()),
    ]
)


def thumb_batch(t: int):
    """mapInPandas kernel: (doc_id, payload) -> (doc_id, w, h, thumb
    CSV) — decode + block means fused in ONE Arrow stage. The means
    are exact integer arithmetic in numpy: per-cell pixel sums via
    bincount over the (r*t div h)*t + (c*t div w) cell lattice
    (float64 accumulate is exact — sums are integers < 2^53), then
    the truncating div as int64 floor division (pixels are
    non-negative, so floor == Spark/DuckDB `div`)."""

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd  # local import: executors only

        tt = int(t)
        for pdf in batches:
            ws, hs, thumbs = [], [], []
            for blob in pdf["payload"]:
                w, h, rows = decode_image_pixels(blob)
                arr = np.frombuffer(
                    b"".join(bytes(r) for r in rows), dtype=np.uint8
                ).reshape(h, w)
                ri = (np.arange(h, dtype=np.int64) * tt) // h
                ci = (np.arange(w, dtype=np.int64) * tt) // w
                cid = (ri[:, None] * tt + ci[None, :]).ravel()
                sums = np.bincount(
                    cid, weights=arr.ravel(), minlength=tt * tt
                ).astype(np.int64)
                counts = np.bincount(cid, minlength=tt * tt)
                cells = [
                    str(sums[k] // counts[k]) if counts[k] else ""
                    for k in range(tt * tt)
                ]
                ws.append(w)
                hs.append(h)
                thumbs.append(",".join(cells))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "w": pd.Series(ws, dtype="int64"),
                    "h": pd.Series(hs, dtype="int64"),
                    "thumb": thumbs,
                }
            )

    return run


def image_thumbnail_decoded(
    media: DataFrame, t: int = THUMB_T
) -> DataFrame:
    """t x t block-mean thumbnail over REAL decoded pixels — the
    resize primitive of every vision-data pipeline (downsample
    before embedding / dedup / layout detection), on the decoded
    grid rather than a byte-length proxy. Pixel (r, c) belongs to
    cell (r*t div h, c*t div w); the cell value is the integer mean
    (sum div count) of its block's grayscale. Returns (doc_id, w, h,
    thumb) with thumb the row-major CSV of the t*t means — a flat
    scalar the driver canonicalizer and the DuckDB twin both hash
    directly.

    Scale shape (round-15 rewrite, guide §4.2): decode AND block
    means run fused inside ONE Arrow-batched mapInPandas stage with
    the means vectorized in numpy (bincount over the cell lattice),
    so only (doc_id, w, h, t*t CSV) crosses the Python boundary —
    the previous form shipped the full w*h gray array back to the
    JVM and then evaluated t*t interpreted aggregate(filter(
    sequence(...)))  lambdas PER CELL, i.e. 16 interpreted passes
    over every pixel of every image. Arithmetic is unchanged and
    exact (integer sums, truncating div), so engines cannot drift.

    Small-image contract: when w < t or h < t, some of the t*t grid
    cells receive no pixels (pixel (r, c) maps to cell (r*t div h,
    c*t div w), which is not surjective below t). Empty cells emit
    an explicit '' placeholder so the CSV always has exactly t*t
    comma-separated fields and cell positions stay fixed — they are
    never silently dropped."""
    return media.select("doc_id", "payload").mapInPandas(
        thumb_batch(int(t)), THUMB_SCHEMA
    )


AUDIO_DS_FACTOR = 8  # 8 kHz -> 1 kHz block-mean decimation


def audio_downsample(docs: DataFrame, k: int = AUDIO_DS_FACTOR) -> DataFrame:
    """Block-mean audio downsampling over REAL decoded PCM — the
    decimation primitive of every audio pipeline (resample before
    fingerprinting / VAD / embedding), on actual WAV samples rather
    than byte lengths: consecutive runs of `k` samples collapse to
    their truncating integer mean. Returns one row per output
    sample (doc_id, out_idx, v) — every value certified, not a
    digest. Disclosed contract: block mean, not sinc interpolation
    (a windowed-sinc resampler is a DSP kernel, not an expression);
    the truncating div matches Spark `div`, and the DuckDB twin
    spells the same truncation with the sign-split identity.

    Scale shape (round-15 rewrite, guide §4.2): decode and the
    per-frame block means run fused in one Arrow kernel
    (wav_block_means_batch — exact int64 sums, truncating div spelled
    sign-split so it matches Spark `div` on negative sums;
    AUDIO_FRAME = 160 is a multiple of k, so blocks never straddle
    frames); the explode to one row per output sample stays JVM-side.
    The previous form shipped every raw sample to the JVM and
    evaluated an interpreted aggregate(slice(...)) lambda per block.
    One exchange: the small-input parallelism floor
    (operators/spread.py)."""
    assert AUDIO_FRAME % k == 0, "blocks must tile the frame"
    frames = synth_media(docs, synth_wav_pcm).mapInPandas(
        wav_block_means_batch(int(k)), AUDIO_MEANS_SCHEMA
    )
    blocks_per_frame = AUDIO_FRAME // int(k)
    out = frames.select(
        "doc_id",
        "frame_idx",
        F.posexplode(F.col("means")).alias("j", "v"),
    )
    return out.select(
        "doc_id",
        (
            F.col("frame_idx").cast("long") * F.lit(blocks_per_frame)
            + F.col("j")
        ).cast("long").alias("out_idx"),
        F.col("v").cast("long").alias("v"),
    )
