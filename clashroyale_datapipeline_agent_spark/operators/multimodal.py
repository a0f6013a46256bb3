"""Multimodal column plumbing (BASELINE.json north star).

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata (schemas.MEDIA_ASSET). The Spark-side plumbing — schema,
partitioning, Arrow batch shape, mapInPandas signatures — is real and
tested. Three decoders share one contract: ``stdlib_png_features`` is
the shipped REAL image path (a from-scratch stdlib PNG parser —
signature/CRC validation, IDAT inflate, all five scanline unfilters,
Pillow's exact integer luma), ``pil_image_features`` is the drop-in
when Pillow is installed, and ``_decode_stub`` remains the clearly
marked byte-stats fallback for formats with no in-container codec
(audio/video).

Scale design: decode/feature-extract run as ``mapInPandas`` so each task
streams Arrow batches (no per-row Python overhead, no driver collect);
payloads stay columnar end-to-end. Batch size is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` so executor memory holds
``batch × max_payload`` comfortably.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Output schema of feature extraction — fixed-size float vector + status.
FEATURE_SCHEMA = (
    "asset_id long, media_type string, n_bytes long, "
    "feature array<float>, status string"
)

FEATURE_DIM = 8


def _decode_stub(payload: bytes | None, media_type: str) -> list[float]:
    """STUB decoder — deterministic fake features from the raw bytes.

    Real deployments replace this with PIL/torchvision/ffmpeg calls; the
    container has none of those, so we derive a stable FEATURE_DIM-vector
    from byte statistics (keeps tests deterministic and the plumbing real).
    Raises on None payload to exercise the error path.
    """
    if payload is None:
        raise NotImplementedError("no payload; real decoder would fetch/stream")
    n = len(payload)
    return [
        float(n % 251),
        float(payload[0] if n else 0),
        float(payload[-1] if n else 0),
        float(sum(payload[:64]) % 997),
        float(len(media_type)),
        float(n % 7),
        float(n % 13),
        float(n % 17),
    ]


def pil_image_features(payload: bytes | None, media_type: str) -> list[float]:
    """REAL image decoder (Pillow) with the same contract as
    ``_decode_stub`` — drop-in for ``extract_features(decoder=...)``.

    Lazy-imports PIL inside the closure so the module (and the stub
    path) works in containers without it, mirroring the matplotlib
    gating in ``operators/plots.py``. Features (FEATURE_DIM=8):
    width, height, bands, mean/min/max luma, occupied-luma-bin count,
    payload bytes — deterministic per payload, no RNG.
    """
    import io  # noqa: PLC0415

    from PIL import Image  # noqa: PLC0415 — optional 'multimodal' extra

    if payload is None:
        raise NotImplementedError("no payload; real decoder would fetch/stream")
    img = Image.open(io.BytesIO(payload))
    img.load()
    w, h = img.size
    bands = len(img.getbands())
    hist = img.convert("L").histogram()
    n = max(1, w * h)
    occupied = [i for i, c in enumerate(hist) if c]
    return [
        float(w),
        float(h),
        float(bands),
        float(sum(i * c for i, c in enumerate(hist)) / n),
        float(occupied[0] if occupied else 0),
        float(occupied[-1] if occupied else 0),
        float(len(occupied)),
        float(len(payload)),
    ]


PNG_SIG = b"\x89PNG\r\n\x1a\n"

#: color type -> samples per pixel (8-bit depth only)
_PNG_BANDS = {0: 1, 2: 3, 4: 2, 6: 4}

PNG_ASSET_SCHEMA = "asset_id long, payload binary, media_type string"


def _png_chunk(out: bytearray, tag: bytes, data: bytes) -> None:
    import struct  # noqa: PLC0415
    import zlib  # noqa: PLC0415

    out += struct.pack(">I", len(data))
    out += tag
    out += data
    out += struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)


def png_encode(
    width: int,
    height: int,
    rows: list[bytes],
    *,
    color_type: int = 0,
    filters: list[int] | None = None,
) -> bytes:
    """Minimal REAL PNG encoder (stdlib struct+zlib): 8-bit depth,
    color types 0/2/4/6, non-interlaced, per-row filter choice among
    None(0)/Sub(1)/Up(2). Emits a spec-valid container (signature,
    CRC'd IHDR/IDAT/IEND) that any conformant decoder — Pillow
    included — reads back; used to synthesize genuinely-encoded
    fixtures so the decode path is exercised on real image bytes, not
    byte-stats stand-ins."""
    import struct  # noqa: PLC0415
    import zlib  # noqa: PLC0415

    bands = _PNG_BANDS[color_type]
    stride = width * bands
    out = bytearray(PNG_SIG)
    _png_chunk(
        out, b"IHDR", struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    )
    raw = bytearray()
    prior = bytes(stride)
    for y, row in enumerate(rows):
        if len(row) != stride:
            raise ValueError(f"row {y}: {len(row)} bytes, want {stride}")
        ft = filters[y] if filters else 0
        raw.append(ft)
        if ft == 0:
            raw += row
        elif ft == 1:  # Sub
            raw += bytes(
                (row[i] - (row[i - bands] if i >= bands else 0)) & 0xFF
                for i in range(stride)
            )
        elif ft == 2:  # Up
            raw += bytes((row[i] - prior[i]) & 0xFF for i in range(stride))
        else:
            raise ValueError(f"unsupported encode filter {ft}")
        prior = row
    _png_chunk(out, b"IDAT", zlib.compress(bytes(raw), 6))
    _png_chunk(out, b"IEND", b"")
    return bytes(out)


def png_decode(payload: bytes) -> tuple[int, int, int, list[bytes]]:
    """REAL PNG decoder, stdlib-only: validates the signature and every
    chunk CRC, parses IHDR, inflates the IDAT stream, and reverses all
    five scanline filters (None/Sub/Up/Average/Paeth). Supports 8-bit
    non-interlaced gray/RGB/gray+alpha/RGBA — the full fixture surface
    plus what Pillow emits for those modes. Returns
    ``(width, height, bands, unfiltered scanlines)``."""
    import struct  # noqa: PLC0415
    import zlib  # noqa: PLC0415

    if payload is None:
        raise NotImplementedError("no payload; real decoder would fetch/stream")
    if bytes(payload[:8]) != PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    width = height = bands = None
    idat = bytearray()
    pos = 8
    while pos + 12 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = bytes(payload[pos + 4 : pos + 8])
        data = bytes(payload[pos + 8 : pos + 8 + length])
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r}: CRC mismatch")
        if tag == b"IHDR":
            width, height, depth, ctype, comp, filt, inter = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or comp != 0 or filt != 0 or inter != 0:
                raise ValueError("unsupported PNG variant (need 8-bit, no interlace)")
            bands = _PNG_BANDS.get(ctype)
            if bands is None:
                raise ValueError(f"unsupported color type {ctype}")
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        pos += 12 + length
    if width is None or not idat:
        raise ValueError("truncated PNG: missing IHDR or IDAT")
    raw = zlib.decompress(bytes(idat))
    stride = width * bands
    if len(raw) != height * (stride + 1):
        raise ValueError("IDAT length does not match dimensions")
    rows: list[bytes] = []
    prior = bytearray(stride)
    off = 0
    for _y in range(height):
        ft = raw[off]
        line = bytearray(raw[off + 1 : off + 1 + stride])
        off += 1 + stride
        if ft == 1:  # Sub
            for i in range(bands, stride):
                line[i] = (line[i] + line[i - bands]) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prior[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                left = line[i - bands] if i >= bands else 0
                line[i] = (line[i] + ((left + prior[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = line[i - bands] if i >= bands else 0
                b = prior[i]
                c = prior[i - bands] if i >= bands else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ft != 0:
            raise ValueError(f"bad scanline filter {ft}")
        rows.append(bytes(line))
        prior = line
    return width, height, bands, rows


def stdlib_png_features(payload: bytes | None, media_type: str) -> list[float]:
    """REAL image decoder with zero third-party deps — same 8-feature
    contract as ``pil_image_features`` (width, height, bands, mean
    luma, first/last/count of occupied luma bins, payload bytes).
    Luma uses Pillow's exact integer RGB→L convention
    ``(19595 R + 38470 G + 7471 B + 0x8000) >> 16`` so the two
    decoders agree bit-for-bit on any image both can read (pinned by
    the skip-gated parity test where Pillow is installed). This is the
    shipped DEFAULT real decoder: unlike ``_decode_stub`` it parses
    the actual PNG container and pixel data."""
    w, h, bands, rows = png_decode(payload)
    hist = [0] * 256
    for line in rows:
        if bands == 1:
            for v in line:
                hist[v] += 1
        elif bands == 2:  # gray+alpha: L band is sample 0
            for i in range(0, len(line), 2):
                hist[line[i]] += 1
        else:  # RGB / RGBA: alpha ignored, as in Image.convert("L")
            for i in range(0, len(line), bands):
                hist[
                    (
                        line[i] * 19595
                        + line[i + 1] * 38470
                        + line[i + 2] * 7471
                        + 0x8000
                    )
                    >> 16
                ] += 1
    n = max(1, w * h)
    occupied = [i for i, c in enumerate(hist) if c]
    return [
        float(w),
        float(h),
        float(bands),
        float(sum(i * c for i, c in enumerate(hist)) / n),
        float(occupied[0] if occupied else 0),
        float(occupied[-1] if occupied else 0),
        float(len(occupied)),
        float(len(payload)),
    ]


def luma_rows(payload: bytes) -> tuple[int, int, list[list[int]]]:
    """Decode a PNG into its integer luma plane: ``(w, h, rows)`` with
    one list of 0-255 luma values per scanline. Gray uses the sample
    directly, gray+alpha sample 0, RGB/RGBA Pillow's exact integer
    formula ``(19595 R + 38470 G + 7471 B + 0x8000) >> 16`` — the same
    convention as ``stdlib_png_features``, factored out so perceptual
    hashing and feature extraction agree on what "luma" means."""
    w, h, bands, rows = png_decode(payload)
    out: list[list[int]] = []
    for line in rows:
        if bands == 1:
            out.append(list(line))
        elif bands == 2:
            out.append(list(line[0::2]))
        else:
            out.append(
                [
                    (
                        line[i] * 19595
                        + line[i + 1] * 38470
                        + line[i + 2] * 7471
                        + 0x8000
                    )
                    >> 16
                    for i in range(0, len(line), bands)
                ]
            )
    return w, h, out


def dhash64(payload: bytes, *, grid_w: int = 9, grid_h: int = 8) -> int:
    """64-bit difference hash (dHash) of a PNG payload — the image
    analog of a MinHash fingerprint: decode → luma → floor-boundary box
    means to a ``grid_h × grid_w`` grid (cell (r, c) averages pixels
    x ∈ [c·w/gw, (c+1)·w/gw), y ∈ [r·h/gh, (r+1)·h/gh), integer floor
    mean) → bit ``r·(grid_w−1)+c`` = 1 iff cell(r, c+1) > cell(r, c).
    Perceptually near-identical images (re-encodes, mild brightness
    shifts, exact-multiple downsamples) land within a few bits, so
    Hamming-banded joins find image near-dups without pairwise pixel
    comparison. Notably, a 2×2 box thumbnail of an image whose dims are
    exact grid multiples hashes IDENTICALLY (the 2×2 floor means ARE
    the thumbnail pixels) — pinned in pytest. Returns a SIGNED int64
    (bit 63 → negative) so the value maps 1:1 onto a Spark/DuckDB
    BIGINT column."""
    w, h, rows = luma_rows(payload)
    if w < grid_w or h < grid_h:
        raise ValueError(
            f"image {w}x{h} smaller than dhash grid {grid_w}x{grid_h}"
        )
    cells: list[list[int]] = []
    for r in range(grid_h):
        y0, y1 = r * h // grid_h, (r + 1) * h // grid_h
        row_cells = []
        for c in range(grid_w):
            x0, x1 = c * w // grid_w, (c + 1) * w // grid_w
            s = sum(rows[y][x] for y in range(y0, y1) for x in range(x0, x1))
            row_cells.append(s // ((y1 - y0) * (x1 - x0)))
        cells.append(row_cells)
    hv = 0
    for r in range(grid_h):
        for c in range(grid_w - 1):
            if cells[r][c + 1] > cells[r][c]:
                hv |= 1 << (r * (grid_w - 1) + c)
    return hv - (1 << 64) if hv >= 1 << 63 else hv


def wav_delta_hash64(payload: bytes) -> int:
    """64-bit AUDIO difference hash — the PCM analog of :func:`dhash64`:
    decode, mono-mix each frame (sum of channels), and set bit t iff
    |frame t+1| > |frame t| over the first 65 frames. Near-identical
    audio (re-encodes, small DC offsets) flips few bits, so the same
    Hamming-banded join used for image near-dup finds audio near-dups.
    Requires ≥ 65 frames. Returns a SIGNED int64 (bit 63 → negative)."""
    _rate, channels, s = wav_decode(payload)
    frames = len(s) // channels
    if frames < 65:
        raise ValueError(f"need >= 65 frames for delta hash, got {frames}")
    mono = [
        sum(s[f * channels : (f + 1) * channels]) for f in range(65)
    ]
    hv = 0
    for t in range(64):
        if abs(mono[t + 1]) > abs(mono[t]):
            hv |= 1 << t
    return hv - (1 << 64) if hv >= 1 << 63 else hv


def y4m_temporal_hash64(payload: bytes) -> int:
    """64-bit VIDEO temporal hash — the time-axis analog of
    :func:`dhash64`: decode, take each frame's luma sum, and set bit t
    iff sum(frame t+1) > sum(frame t) over the first 65 frames. Encodes
    the brightness-motion signature of a clip; re-encodes and mild
    global brightness shifts preserve most bits, so Hamming banding
    finds near-duplicate footage without frame-by-frame comparison.
    Requires ≥ 65 frames. Returns a SIGNED int64."""
    _w, _h, _num, _den, frames = y4m_decode(payload)
    if len(frames) < 65:
        raise ValueError(
            f"need >= 65 frames for temporal hash, got {len(frames)}"
        )
    sums = [sum(f) for f in frames[:65]]
    hv = 0
    for t in range(64):
        if sums[t + 1] > sums[t]:
            hv |= 1 << t
    return hv - (1 << 64) if hv >= 1 << 63 else hv


DHASH_SCHEMA = "asset_id long, dhash long, status string"


def dhash_assets(assets: DataFrame) -> DataFrame:
    """Perceptual-hash stage over opaque PNG payloads via
    ``mapInPandas`` — binary in, one 64-bit dHash out per asset; the
    front end of image near-dup dedup (feed the output to
    ``dedup.hamming_candidate_pairs``). Per-row failures land in
    ``status`` with dhash 0 instead of killing the stage. Scale: same
    Arrow-batched codec boundary as ``extract_features`` — per-row
    decode work, no shuffle, payloads never collected; the downstream
    banded join shuffles only (id, 8-byte hash) tuples."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # task-scoped memo (guide §4.5 amortization, round-13): dedup
        # corpora repeat payloads heavily by design, and identical bytes
        # hash identically — decode each distinct payload once per task.
        # Scoped to the task (fresh per invocation), never module-level.
        memo: dict[bytes, tuple[int, str]] = {}
        for pdf in batches:
            hashes, status = [], []
            for payload in pdf["payload"]:
                hit = memo.get(payload)
                if hit is None:
                    try:
                        hit = (dhash64(payload), "ok")
                    except Exception as e:  # noqa: BLE001 — per-row tolerance
                        hit = (0, f"error:{type(e).__name__}")
                    memo[payload] = hit
                hashes.append(hit[0])
                status.append(hit[1])
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "dhash": hashes,
                    "status": status,
                }
            )

    return assets.mapInPandas(run, schema=DHASH_SCHEMA)


def perceptual_hash_assets(assets: DataFrame, hasher) -> DataFrame:
    """Generic perceptual-hash stage over opaque payloads via
    ``mapInPandas`` — ``hasher`` is any ``payload -> signed int64``
    callable (:func:`dhash64` for images, :func:`wav_delta_hash64` for
    audio, :func:`y4m_temporal_hash64` for video), so ONE Arrow-batched
    stage shape serves near-dup hashing across every modality; feed the
    output to ``dedup.hamming_candidate_pairs``. Per-row failures land
    in ``status`` with hash 0."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # task-scoped memo: identical payloads hash identically (see
        # dhash_assets) — one decode per distinct payload per task
        memo: dict[bytes, tuple[int, str]] = {}
        for pdf in batches:
            hashes, status = [], []
            for payload in pdf["payload"]:
                hit = memo.get(payload)
                if hit is None:
                    try:
                        hit = (hasher(payload), "ok")
                    except Exception as e:  # noqa: BLE001 — per-row tolerance
                        hit = (0, f"error:{type(e).__name__}")
                    memo[payload] = hit
                hashes.append(hit[0])
                status.append(hit[1])
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "dhash": hashes,
                    "status": status,
                }
            )

    return assets.mapInPandas(run, schema=DHASH_SCHEMA)


def synthesize_gradient_png_assets(params: DataFrame) -> DataFrame:
    """Turn ``(asset_id, w, h, g, d, e)`` parameter rows into REAL
    gray PNGs carrying the 2-D gradient ``pixel(x, y) = (g + d·x +
    e·y) mod 256`` — unlike ``synthesize_png_assets``'s vertical
    gradients these vary along BOTH axes, so a dHash over them has
    non-trivial horizontal structure (and mod-256 wrap positions that
    move with g, making near-identical g values hash within a few
    bits). Encoded with the Up filter after a None first row (row
    deltas are the constant e), so decoding exercises real unfilter
    paths. Deterministic per row: no RNG."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # task-scoped memo: the payload depends only on (w, h, g, d, e),
        # and the modular param derivations repeat tuples heavily (a few
        # hundred distinct images per corpus) — encode each once per task
        memo: dict[tuple, bytes] = {}
        for pdf in batches:
            payloads = []
            for w, h, g, dd, ee in zip(
                pdf["w"], pdf["h"], pdf["g"], pdf["d"], pdf["e"]
            ):
                key = (int(w), int(h), int(g), int(dd), int(ee))
                payload = memo.get(key)
                if payload is None:
                    w, h, g, dd, ee = key
                    rows = [
                        bytes((g + dd * x + ee * y) % 256 for x in range(w))
                        for y in range(h)
                    ]
                    payload = png_encode(
                        w, h, rows,
                        color_type=0, filters=[0] + [2] * (h - 1),
                    )
                    memo[key] = payload
                payloads.append(payload)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "payload": payloads,
                    "media_type": ["image/png"] * len(payloads),
                }
            )

    return params.mapInPandas(run, schema=PNG_ASSET_SCHEMA)


def synthesize_png_assets(params: DataFrame) -> DataFrame:
    """Turn ``(asset_id, w, h, g, rgb)`` parameter rows into REAL
    encoded PNG payloads via ``mapInPandas`` (the encode is the same
    opaque-binary boundary the decode crosses). Grayscale assets carry
    a vertical gradient ``(g+y) % 256`` encoded with the Up filter
    after a None first row; RGB assets carry a constant colour derived
    from the id encoded with the Sub filter — so decoding genuinely
    exercises the unfilter paths, not just stored bytes. Deterministic
    per id: no RNG, stable across partitionings."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # task-scoped memo for the gray branch only: its payload depends
        # just on (w, h, g); the RGB branch's colour derives from the
        # asset id, so every RGB payload is unique by construction
        memo: dict[tuple, bytes] = {}
        for pdf in batches:
            payloads = []
            for aid, w, h, g, rgb in zip(
                pdf["asset_id"], pdf["w"], pdf["h"], pdf["g"], pdf["rgb"]
            ):
                aid, w, h, g = int(aid), int(w), int(h), int(g)
                if bool(rgb):
                    color = bytes(
                        [aid * 7 % 256, aid * 11 % 256, aid * 13 % 256]
                    )
                    payloads.append(
                        png_encode(
                            w, h, [color * w] * h,
                            color_type=2, filters=[1] * h,
                        )
                    )
                else:
                    payload = memo.get((w, h, g))
                    if payload is None:
                        rows = [
                            bytes([(g + y) % 256]) * w for y in range(h)
                        ]
                        payload = png_encode(
                            w, h, rows,
                            color_type=0, filters=[0] + [2] * (h - 1),
                        )
                        memo[(w, h, g)] = payload
                    payloads.append(payload)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "payload": payloads,
                    "media_type": ["image/png"] * len(payloads),
                }
            )

    return params.mapInPandas(run, schema=PNG_ASSET_SCHEMA)


def png_box_downsample(payload: bytes) -> bytes:
    """REAL image transform: decode → 2×2 box-filter downsample (each
    output sample is the floor-mean of its 2×2 input block, per band) →
    re-encode. The full codec loop a thumbnail stage runs at 100 TB,
    here on the stdlib codec; dimensions must be even (one box per
    output pixel, no edge special-cases)."""
    w, h, bands, rows = png_decode(payload)
    if w % 2 or h % 2:
        raise ValueError("box downsample needs even dimensions")
    out_rows = []
    for y in range(0, h, 2):
        r0, r1 = rows[y], rows[y + 1]
        line = bytearray()
        for x in range(0, w, 2):
            for b in range(bands):
                i0 = x * bands + b
                i1 = (x + 1) * bands + b
                line.append((r0[i0] + r0[i1] + r1[i0] + r1[i1]) >> 2)
        out_rows.append(bytes(line))
    ctype = {1: 0, 3: 2, 2: 4, 4: 6}[bands]
    return png_encode(w // 2, h // 2, out_rows, color_type=ctype)


def downsample_png_assets(assets: DataFrame) -> DataFrame:
    """Thumbnail stage over opaque PNG payloads via ``mapInPandas`` —
    decode, 2×2 box filter, re-encode; same MEDIA-shaped output so it
    chains straight into ``extract_features``. Per-row failures pass
    the payload through untouched with media_type tagged ``+error`` (a
    corrupt input must not kill the stage; downstream decode will
    surface it in ``status``)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # task-scoped memo: identical payloads downsample identically
        memo: dict[tuple, tuple] = {}
        for pdf in batches:
            payloads, mtypes = [], []
            for payload, mtype in zip(pdf["payload"], pdf["media_type"]):
                hit = memo.get((payload, mtype))
                if hit is None:
                    try:
                        hit = (png_box_downsample(payload), mtype)
                    except Exception:  # noqa: BLE001 — per-row tolerance
                        hit = (payload, f"{mtype}+error")
                    memo[(payload, mtype)] = hit
                payloads.append(hit[0])
                mtypes.append(hit[1])
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "payload": payloads,
                    "media_type": mtypes,
                }
            )

    return assets.mapInPandas(run, schema=PNG_ASSET_SCHEMA)


WAV_ASSET_SCHEMA = "asset_id long, payload binary, media_type string"


def wav_encode(
    sample_rate: int, channels: int, samples: list[int]
) -> bytes:
    """Minimal REAL WAV encoder (stdlib struct): canonical 44-byte
    RIFF/WAVE header + PCM16 little-endian data chunk. ``samples`` is
    the flat interleaved int16 stream (len must be a multiple of
    ``channels``). Spec-valid output any conformant reader accepts."""
    import struct  # noqa: PLC0415

    if len(samples) % channels:
        raise ValueError("sample count not a multiple of channels")
    data = struct.pack(f"<{len(samples)}h", *samples)
    byte_rate = sample_rate * channels * 2
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack(
            "<IHHIIHH", 16, 1, channels, sample_rate, byte_rate, channels * 2, 16
        )
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def wav_decode(payload: bytes) -> tuple[int, int, list[int]]:
    """REAL WAV decoder, stdlib-only: validates the RIFF/WAVE container,
    walks chunks (tolerating extras like LIST/INFO), requires PCM16, and
    returns ``(sample_rate, channels, flat int16 samples)``. The declared
    data-chunk size must match the payload — truncated files fail loudly
    rather than yielding silent partial audio."""
    import struct  # noqa: PLC0415

    if payload is None:
        raise NotImplementedError("no payload; real decoder would fetch/stream")
    if bytes(payload[:4]) != b"RIFF" or bytes(payload[8:12]) != b"WAVE":
        raise ValueError("not a WAV: bad RIFF/WAVE signature")
    pos = 12
    rate = channels = None
    samples: list[int] | None = None
    while pos + 8 <= len(payload):
        tag = bytes(payload[pos : pos + 4])
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = bytes(payload[pos + 8 : pos + 8 + size])
        if len(body) != size:
            raise ValueError(f"truncated WAV chunk {tag!r}")
        if tag == b"fmt ":
            fmt, channels, rate, _br, _ba, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if fmt != 1 or bits != 16:
                raise ValueError("unsupported WAV variant (need PCM16)")
        elif tag == b"data":
            if channels is None:
                raise ValueError("WAV data chunk before fmt")
            if size % 2:
                raise ValueError("odd PCM16 data size")
            samples = list(struct.unpack(f"<{size // 2}h", body))
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if rate is None or samples is None:
        raise ValueError("truncated WAV: missing fmt or data")
    if len(samples) % channels:
        raise ValueError("sample count not a multiple of channels")
    return rate, channels, samples


def wav_features(payload: bytes | None, media_type: str) -> list[float]:
    """REAL audio decoder with the ``extract_features`` contract —
    FEATURE_DIM floats from a blind PCM16 parse: sample rate, channels,
    frames, Σ|s|, max|s|, strict zero crossings over the flat stream
    (s[k-1]·s[k] < 0), DC sum, payload bytes. All integers by
    construction on the fixture signals, so every value round-trips
    float32 exactly (FEATURE_SCHEMA is array<float>; fixtures keep
    magnitudes far under 2^24)."""
    rate, channels, s = wav_decode(payload)
    zcross = sum(1 for a, b in zip(s, s[1:]) if a * b < 0)
    return [
        float(rate),
        float(channels),
        float(len(s) // channels),
        float(sum(abs(x) for x in s)),
        float(max((abs(x) for x in s), default=0)),
        float(zcross),
        float(sum(s)),
        float(len(payload)),
    ]


def synthesize_wav_assets(params: DataFrame) -> DataFrame:
    """Turn ``(asset_id, n_frames, channels, rate, b)`` parameter rows
    into REAL encoded WAV payloads via ``mapInPandas`` — flat sample k is
    ``((b + 7k) mod 97) - 48``, a deterministic cyclic signal with sign
    changes (so the zero-crossing feature is non-trivial). The decoder
    downstream sees only bytes; the generation formula lives again only
    in the DuckDB oracle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # task-scoped memo: payload depends only on (n, ch, rate, b)
        memo: dict[tuple, bytes] = {}
        for pdf in batches:
            payloads = []
            for aid, n, ch, rate, b in zip(
                pdf["asset_id"], pdf["n_frames"], pdf["channels"],
                pdf["rate"], pdf["b"],
            ):
                key = (int(n), int(ch), int(rate), int(b))
                payload = memo.get(key)
                if payload is None:
                    n, ch, rate, b = key
                    samples = [((b + 7 * k) % 97) - 48 for k in range(n * ch)]
                    payload = wav_encode(rate, ch, samples)
                    memo[key] = payload
                payloads.append(payload)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "payload": payloads,
                    "media_type": ["audio/wav"] * len(payloads),
                }
            )

    return params.mapInPandas(run, schema=WAV_ASSET_SCHEMA)


def wav_decimate(payload: bytes, factor: int = 2) -> bytes:
    """REAL audio transform: decode → keep every ``factor``-th FRAME
    (all channels of it — interleave-aware decimation, frame 0 first) →
    re-encode at ``rate // factor`` so duration semantics survive. The
    audio half of the thumbnail loop."""
    rate, channels, s = wav_decode(payload)
    frames = len(s) // channels
    kept: list[int] = []
    for f in range(0, frames, factor):
        kept.extend(s[f * channels : (f + 1) * channels])
    return wav_encode(rate // factor, channels, kept)


def decimate_wav_assets(assets: DataFrame, *, factor: int = 2) -> DataFrame:
    """Decimation stage over opaque WAV payloads via ``mapInPandas`` —
    MEDIA-shaped output chaining into ``extract_features``; per-row
    failures pass through with ``+error`` tagged media_type."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # task-scoped memo: identical payloads decimate identically
        memo: dict[tuple, tuple] = {}
        for pdf in batches:
            payloads, mtypes = [], []
            for payload, mtype in zip(pdf["payload"], pdf["media_type"]):
                hit = memo.get((payload, mtype))
                if hit is None:
                    try:
                        hit = (wav_decimate(payload, factor), mtype)
                    except Exception:  # noqa: BLE001 — per-row tolerance
                        hit = (payload, f"{mtype}+error")
                    memo[(payload, mtype)] = hit
                payloads.append(hit[0])
                mtypes.append(hit[1])
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "payload": payloads,
                    "media_type": mtypes,
                }
            )

    return assets.mapInPandas(run, schema=WAV_ASSET_SCHEMA)


Y4M_ASSET_SCHEMA = "asset_id long, payload binary, media_type string"

Y4M_MAGIC = b"YUV4MPEG2"


def y4m_encode(
    width: int,
    height: int,
    y_planes: list[bytes],
    *,
    rate: str = "25:1",
) -> bytes:
    """Minimal REAL video encoder: YUV4MPEG2 (the ffmpeg-standard
    uncompressed container) with 4:2:0 chroma — ASCII stream header,
    one ``FRAME`` marker per picture, raw Y plane + neutral (0x80) U/V
    quarter planes. Dimensions must be even (C420). Spec-valid output
    any conformant reader (ffmpeg, mjpegtools) accepts."""
    if width % 2 or height % 2:
        raise ValueError("C420 needs even dimensions")
    header = (
        f"YUV4MPEG2 W{width} H{height} F{rate} Ip A1:1 C420\n".encode()
    )
    chroma = bytes([0x80]) * ((width // 2) * (height // 2))
    out = bytearray(header)
    for y in y_planes:
        if len(y) != width * height:
            raise ValueError("Y plane size mismatch")
        out += b"FRAME\n"
        out += y
        out += chroma
        out += chroma
    return bytes(out)


def y4m_decode(
    payload: bytes,
) -> tuple[int, int, int, int, list[bytes]]:
    """REAL video decoder, stdlib-only: parses the YUV4MPEG2 stream
    header (W/H/F tokens, requires C420), walks FRAME markers, extracts
    every Y (luma) plane and skips the chroma planes. The stream must
    end exactly at the last plane — a truncated tail or a short frame
    fails loudly. Returns ``(width, height, fps_num, fps_den,
    y_planes)``."""
    if payload is None:
        raise NotImplementedError("no payload; real decoder would fetch/stream")
    buf = bytes(payload)
    if not buf.startswith(Y4M_MAGIC + b" "):
        raise ValueError("not a y4m: bad magic")
    nl = buf.find(b"\n")
    if nl < 0:
        raise ValueError("truncated y4m header")
    width = height = None
    num, den = 25, 1
    chroma = "C420"
    for tok in buf[len(Y4M_MAGIC) + 1 : nl].decode("ascii").split():
        if tok[0] == "W":
            width = int(tok[1:])
        elif tok[0] == "H":
            height = int(tok[1:])
        elif tok[0] == "F":
            num, den = (int(x) for x in tok[1:].split(":"))
        elif tok[0] == "C":
            chroma = tok
    if width is None or height is None:
        raise ValueError("y4m header missing W/H")
    if chroma != "C420":
        raise ValueError(f"unsupported chroma {chroma} (need C420)")
    if width % 2 or height % 2:
        raise ValueError("C420 needs even dimensions")
    y_size = width * height
    c_size = (width // 2) * (height // 2)
    frames: list[bytes] = []
    pos = nl + 1
    while pos < len(buf):
        fnl = buf.find(b"\n", pos)
        if fnl < 0 or not buf[pos:fnl].startswith(b"FRAME"):
            raise ValueError("bad FRAME marker")
        pos = fnl + 1
        end = pos + y_size + 2 * c_size
        if end > len(buf):
            raise ValueError("truncated y4m frame")
        frames.append(buf[pos : pos + y_size])
        pos = end
    return width, height, num, den, frames


def y4m_features(
    payload: bytes | None, media_type: str, *, every_n: int = 2
) -> list[float]:
    """REAL video decoder under the ``extract_features`` contract —
    blind-parse the y4m container, SAMPLE every ``every_n``-th frame
    (frame 0 first), and aggregate sampled luma. Features: width,
    height, total frames, sampled frames, Σ of sampled-frame luma sums,
    fps numerator, first sampled frame's luma sum, payload bytes.
    Fixture magnitudes stay far under float32's 2^24 integer ceiling."""
    w, h, num, _den, frames = y4m_decode(payload)
    sampled = frames[::every_n]
    sums = [sum(f) for f in sampled]
    return [
        float(w),
        float(h),
        float(len(frames)),
        float(len(sampled)),
        float(sum(sums)),
        float(num),
        float(sums[0] if sums else 0),
        float(len(payload)),
    ]


def synthesize_y4m_assets(params: DataFrame) -> DataFrame:
    """Turn ``(asset_id, w, h, n_frames, g)`` parameter rows into REAL
    y4m payloads via ``mapInPandas``: frame t's luma is the row gradient
    ``(g + 3t + y) mod 256`` (constant along x), so per-frame luma sums
    move with t and frame SAMPLING is observable in the features. The
    downstream decoder sees only bytes."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # task-scoped memo: payload depends only on (w, h, n, g)
        memo: dict[tuple, bytes] = {}
        for pdf in batches:
            payloads = []
            for aid, w, h, n, g in zip(
                pdf["asset_id"], pdf["w"], pdf["h"], pdf["n_frames"], pdf["g"]
            ):
                key = (int(w), int(h), int(n), int(g))
                payload = memo.get(key)
                if payload is None:
                    w, h, n, g = key
                    planes = [
                        b"".join(
                            bytes([(g + 3 * t + y) % 256]) * w
                            for y in range(h)
                        )
                        for t in range(n)
                    ]
                    payload = y4m_encode(w, h, planes)
                    memo[key] = payload
                payloads.append(payload)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "payload": payloads,
                    "media_type": ["video/x-y4m"] * len(payloads),
                }
            )

    return params.mapInPandas(run, schema=Y4M_ASSET_SCHEMA)


def y4m_scene_cut_features(
    payload: bytes | None, media_type: str, *, min_jump: int = 8
) -> list[float]:
    """TEMPORAL video analysis under the ``extract_features`` contract —
    scene-cut detection over the decoded luma sequence (the operator a
    video-curation pipeline runs to split footage into shots before
    frame sampling): blind-parse the y4m container, compute each
    frame's luma sum, take consecutive-frame deltas, and flag a cut
    wherever the mean per-pixel luma jump is ≥ ``min_jump`` (i.e.
    |Σt − Σt−1| ≥ min_jump · w · h). Features: width, height, total
    frames, number of cuts, max |delta|, Σ|delta|, first cut's frame
    index (0 if none), payload bytes. All integers by construction on
    the fixture signals — exact in float32."""
    w, h, _num, _den, frames = y4m_decode(payload)
    sums = [sum(f) for f in frames]
    deltas = [abs(b - a) for a, b in zip(sums, sums[1:])]
    thresh = min_jump * w * h
    cut_idx = [t + 1 for t, d in enumerate(deltas) if d >= thresh]
    return [
        float(w),
        float(h),
        float(len(frames)),
        float(len(cut_idx)),
        float(max(deltas, default=0)),
        float(sum(deltas)),
        float(cut_idx[0] if cut_idx else 0),
        float(len(payload)),
    ]


def synthesize_y4m_scene_assets(params: DataFrame) -> DataFrame:
    """Turn ``(asset_id, w, h, n_frames, g, cut, jump)`` parameter rows
    into REAL y4m payloads with a SCENE CUT: frame t's luma is the row
    gradient ``g + y`` plus ``jump`` once ``t >= cut`` (callers keep
    ``g + h + jump < 256`` so no mod wrap — deltas are exactly
    w·h·jump at the cut and 0 elsewhere). ``jump = 0`` or ``cut >=
    n_frames`` synthesizes cut-free footage. The downstream decoder
    sees only bytes; the cut position lives again only in the DuckDB
    oracle's closed form."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # task-scoped memo: payload depends only on the param tuple
        memo: dict[tuple, bytes] = {}
        for pdf in batches:
            payloads = []
            for w, h, n, g, cut, jump in zip(
                pdf["w"], pdf["h"], pdf["n_frames"], pdf["g"],
                pdf["cut"], pdf["jump"],
            ):
                key = (int(w), int(h), int(n), int(g), int(cut), int(jump))
                payload = memo.get(key)
                if payload is None:
                    w, h, n, g, cut, jump = key
                    planes = [
                        b"".join(
                            bytes([g + y + (jump if t >= cut else 0)]) * w
                            for y in range(h)
                        )
                        for t in range(n)
                    ]
                    payload = y4m_encode(w, h, planes)
                    memo[key] = payload
                payloads.append(payload)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "payload": payloads,
                    "media_type": ["video/x-y4m"] * len(payloads),
                }
            )

    return params.mapInPandas(run, schema=Y4M_ASSET_SCHEMA)


def extract_features(assets: DataFrame, *, decoder=None) -> DataFrame:
    """Decode + featurize media assets via ``mapInPandas``.

    One Arrow batch in, one out; per-asset failures are captured in
    ``status`` instead of failing the task (at 100 TB a single corrupt
    payload must not kill a stage). ``decoder`` is any
    ``(payload, media_type) -> list[float]`` (len FEATURE_DIM) callable;
    defaults to the deterministic byte-stats stub, with
    ``pil_image_features`` as the shipped real-image option.
    """
    decode = decoder or _decode_stub

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # task-scoped memo: identical (payload, media_type) decode to
        # identical features — one decode per distinct payload per task
        memo: dict[tuple, tuple] = {}
        for pdf in batches:
            feats, status, nbytes = [], [], []
            for payload, mtype in zip(pdf["payload"], pdf["media_type"]):
                hit = memo.get((payload, mtype))
                if hit is None:
                    try:
                        hit = (decode(payload, mtype), "ok")
                    except Exception as e:  # noqa: BLE001 — per-row tolerance
                        hit = (
                            [0.0] * FEATURE_DIM,
                            f"error:{type(e).__name__}",
                        )
                    memo[(payload, mtype)] = hit
                feats.append(hit[0])
                status.append(hit[1])
                nbytes.append(0 if payload is None else len(payload))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": nbytes,
                    "feature": feats,
                    "status": status,
                }
            )

    return assets.mapInPandas(run, schema=FEATURE_SCHEMA)

