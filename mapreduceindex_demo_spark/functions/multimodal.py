"""Multimodal column handling: opaque binary payloads + typed metadata.

The pattern for image/audio/video at 100 TB: store the raw bytes as a
`binary` column next to a typed metadata struct; decode / feature-extract /
resize / frame-sample run as Arrow-batched `mapInPandas` stages so bytes
never round-trip through Python row-by-row.

The heavy media codecs (PIL/ffmpeg/torchaudio) are NOT in this environment,
so the engine ships its own deterministic raster container ("gray8"): a
binary header (magic, codec id, width, pixel count) followed by row-major
1-byte pixels. Containers are ASSEMBLED JVM-side (`media_container` —
concat/hex/unhex, whole-stage codegen, scan-speed at 100 TB) and PARSED by
a real pure-Python binary decoder (`decode_media` — struct.unpack, magic /
codec / length validation, raises ValueError on corruption) inside the
Arrow-batched mapInPandas stage. A production image decoder slots into
`decode_media` without touching the Spark plumbing.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: gray8 container: 4-byte magic, 1-byte codec id, 2-byte big-endian width,
#: 4-byte big-endian pixel count, then pixels (last row may be partial).
MEDIA_MAGIC = b"MRI1"
CODEC_IDS = {"gray8": 1}
MEDIA_WIDTH = 16
_HEADER = struct.Struct(">4sBHI")

#: schema of the extracted-feature output of decode_features
FEATURE_SCHEMA = (
    "doc_id bigint, codec string, width int, height int, n_pixels int, "
    "byte_sum bigint, min_byte int, max_byte int, mean_byte double"
)


def binary_payload(text_col: str = "text") -> Column:
    """Testdata has no real media, so the opaque payload is the UTF-8 bytes
    of the document text — byte-identical to DuckDB's encode()."""
    return F.encode(F.col(text_col), "UTF-8")


def media_meta(codec: str = "fake") -> Column:
    """Typed metadata struct riding next to the binary column."""
    return F.struct(
        F.lit(codec).alias("codec"),
        F.length(binary_payload()).alias("n_bytes"),
        F.lit(1).alias("channels"),
    )


def media_container(
    text_col: str = "text", width: int = MEDIA_WIDTH
) -> Column:
    """Assemble a gray8 container column entirely JVM-side: header ints are
    rendered big-endian via hex → lpad → unhex so the ingest path stays in
    whole-stage codegen (no Python in the 100 TB write path)."""

    def be(col: Column, nbytes: int) -> Column:
        return F.unhex(F.lpad(F.hex(col), nbytes * 2, "0"))

    payload = binary_payload(text_col)
    return F.concat(
        F.lit(MEDIA_MAGIC),
        be(F.lit(CODEC_IDS["gray8"]), 1),
        be(F.lit(width), 2),
        be(F.octet_length(payload), 4),
        payload,
    )


def decode_media(blob: bytes) -> tuple[str, int, memoryview]:
    """Parse and validate a gray8 container; returns (codec, width,
    pixels). Raises ValueError on any corruption — truncated header, bad
    magic, unknown codec id, or pixel payload shorter/longer than the
    declared count. This is the seam where a real image/audio parser goes;
    the Spark plumbing around it is codec-agnostic."""
    if len(blob) < _HEADER.size:
        raise ValueError(
            f"media container truncated: {len(blob)} bytes < "
            f"{_HEADER.size}-byte header"
        )
    magic, codec_id, width, n_pixels = _HEADER.unpack_from(blob, 0)
    if magic != MEDIA_MAGIC:
        raise ValueError(f"bad media magic {magic!r}")
    codec = next((k for k, v in CODEC_IDS.items() if v == codec_id), None)
    if codec is None:
        raise ValueError(f"unknown codec id {codec_id}")
    pixels = memoryview(blob)[_HEADER.size :]
    if len(pixels) != n_pixels:
        raise ValueError(
            f"pixel payload {len(pixels)} != declared {n_pixels}"
        )
    return codec, width, pixels


def _decode_batch(pdf, doc_id: str):
    """Decode every container of one Arrow batch's ``media`` column
    (``decode_media`` parses and validates each) and concatenate the
    pixels into ONE vector, so the raster kernels run whole-batch numpy
    expressions instead of per-row calls (r16, guide §4.2). Returns
    ``(ids, codecs, widths, lens, offs, arr)``: image j's pixels are
    ``arr[offs[j]:offs[j + 1]]``, ``lens[j]`` of them."""
    import numpy as np

    m = len(pdf)
    codecs = []
    widths = np.empty(m, dtype=np.int64)
    lens = np.empty(m, dtype=np.int64)
    pix = []
    for j, blob in enumerate(pdf["media"]):
        codec, w, px = decode_media(blob)
        codecs.append(codec)
        widths[j] = w
        lens[j] = len(px)
        pix.append(px)
    offs = np.zeros(m + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    arr = np.empty(int(offs[-1]), dtype=np.uint8)
    for j in range(m):
        if lens[j]:
            arr[offs[j] : offs[j + 1]] = np.frombuffer(pix[j], dtype=np.uint8)
    return pdf[doc_id].tolist(), codecs, widths, lens, offs, arr


def _empty_frame(schema: str):
    """The zero-row output of a kernel with DDL ``schema``."""
    import pandas as pd

    return pd.DataFrame({f.split()[0]: [] for f in schema.split(",")})


#: frame sampling parameters: k evenly spaced fixed-width byte windows
FRAME_COUNT = 4
FRAME_WIDTH = 32
FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_len int, frame_md5 string"


def frame_sample(df: DataFrame, doc_id: str = "doc_id") -> DataFrame:
    """Frame sampling for video-shaped payloads: k=4 evenly spaced 32-byte
    windows per payload, fingerprinted — the 1→N Arrow-batched fan-out a
    real frame extractor would do (mapInPandas; bytes never leave the
    partition, no shuffle, no driver).

    The window arithmetic is pure integer math (stride =
    max(1, (max(n,32)−32)//3)) so the DuckDB oracle reproduces it on the
    payload text — this op's Python path is oracle-CHECKED, not rows-only.
    """

    def sample(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "frame_len": [], "frame_md5": []}
            for did, payload in zip(pdf[doc_id], pdf["payload"]):
                n = len(payload)
                stride = max(1, (max(n, FRAME_WIDTH) - FRAME_WIDTH) // (FRAME_COUNT - 1))
                for i in range(FRAME_COUNT):
                    frame = payload[i * stride : i * stride + FRAME_WIDTH]
                    rows["doc_id"].append(did)
                    rows["frame_idx"].append(i)
                    rows["frame_len"].append(len(frame))
                    rows["frame_md5"].append(hashlib.md5(frame).hexdigest())
            yield pd.DataFrame(rows)

    prepared = df.select(F.col(doc_id), binary_payload().alias("payload"))
    return prepared.mapInPandas(sample, FRAME_SCHEMA)


def decode_features(df: DataFrame, doc_id: str = "doc_id") -> DataFrame:
    """Arrow-batched decode/feature-extract over (doc_id, media container):
    the real 100 TB plumbing — container assembly is JVM-side, mapInPandas
    keeps each partition's bytes in a few Arrow batches (no shuffle, no
    driver), and `decode_media` does real binary parsing per blob.

    mean_byte uses explicit integer half-up rounding to 6 decimals
    ((2·sum·10⁶ + n) // (2n), then ÷10⁶) so Spark and the DuckDB oracle
    agree bit-exactly regardless of engine round() tie conventions."""

    def extract(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        # the per-image sum/min/max run as whole-batch reduceat over the
        # concatenated pixel vector
        for pdf in batches:
            m = len(pdf)
            if m == 0:
                yield _empty_frame(FEATURE_SCHEMA)
                continue
            ids, codecs, widths, lens, offs, arr = _decode_batch(pdf, doc_id)
            nz = lens > 0
            # reduceat needs in-bounds, per-image start offsets: clip the
            # starts of empty rasters and zero their outputs afterwards
            starts = np.minimum(offs[:-1], max(int(offs[-1]) - 1, 0))
            sums = np.zeros(m, dtype=np.int64)
            mins = np.zeros(m, dtype=np.int64)
            maxs = np.zeros(m, dtype=np.int64)
            if arr.size:
                wide = arr.astype(np.int64)
                seg_sum = np.add.reduceat(wide, starts)
                seg_min = np.minimum.reduceat(wide, starts)
                seg_max = np.maximum.reduceat(wide, starts)
                # a reduceat segment of an empty raster aliases the next
                # image's bytes — keep only non-empty images' results
                sums[nz] = seg_sum[nz]
                mins[nz] = seg_min[nz]
                maxs[nz] = seg_max[nz]
            micro = np.zeros(m, dtype=np.int64)
            micro[nz] = (2 * sums[nz] * 1_000_000 + lens[nz]) // (2 * lens[nz])
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "codec": codecs,
                    "width": widths.astype(np.int32),
                    "height": (-(-lens // widths)).astype(np.int32),
                    "n_pixels": lens.astype(np.int32),
                    "byte_sum": sums,
                    "min_byte": mins.astype(np.int32),
                    "max_byte": maxs.astype(np.int32),
                    "mean_byte": micro / 1_000_000.0,
                }
            )

    prepared = df.select(F.col(doc_id), media_container().alias("media"))
    return prepared.mapInPandas(extract, FEATURE_SCHEMA)


#: nearest-neighbor 2x downsample output schema
RESIZE_SCHEMA = (
    "doc_id bigint, out_width int, out_height int, n_out_pixels int, "
    "out_byte_sum bigint, out_mean_byte double, out_pos_checksum bigint"
)
_CHECKSUM_MOD = 1_000_000_007


def resize_media(df: DataFrame, doc_id: str = "doc_id") -> DataFrame:
    """Resize for image-shaped payloads: nearest-neighbor 2x downsample
    (keep every even row and even column of the gray8 raster), the third
    op of the decode / feature-extract / resize / frame-sample quartet.
    Same plumbing contract as `decode_features`: container assembly stays
    JVM-side, the Arrow-batched mapInPandas stage decodes and vectorizes
    per partition (no shuffle, no driver), and a real resampling kernel
    (PIL.Image.resize, cv2.resize) slots in where the numpy mask is.

    The output is summarized, not re-emitted as bytes: dimensions, pixel
    count, byte sum, half-up-rounded mean, and a POSITIONAL checksum
    (sum over output order of byte*(position+1) mod 1e9+7) — the checksum
    pins the resample's exact output SEQUENCE, so a wrong row stride or a
    transposed mask cannot pass. Partial last rows follow the container
    contract (mask on pixel index, not on a padded rectangle)."""

    def resize(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        # the even-row/even-column mask and the positional checksum are
        # whole-batch expressions keyed by a per-element image index.
        # Checksum exactness: the weighted bincount sums integer values
        # ≤ 255·n_out per term — integer-exact in float64 far beyond any
        # real batch — then reduces mod 1e9+7 on int64, identical to the
        # per-image int64 spelling.
        for pdf in batches:
            m = len(pdf)
            if m == 0:
                yield _empty_frame(RESIZE_SCHEMA)
                continue
            ids, _, widths, lens, offs, arr = _decode_batch(pdf, doc_id)
            img = np.repeat(np.arange(m, dtype=np.int64), lens)
            idx = np.arange(int(offs[-1]), dtype=np.int64) - offs[img]
            w_e = widths[img]
            mask = ((idx // w_e) % 2 == 0) & ((idx % w_e) % 2 == 0)
            sel_img = img[mask]
            out = arr[mask].astype(np.int64)
            n_out = np.bincount(sel_img, minlength=m).astype(np.int64)
            sums = (
                np.bincount(sel_img, weights=out, minlength=m)
                .astype(np.int64)
            )
            sel_start = np.zeros(m + 1, dtype=np.int64)
            np.cumsum(n_out, out=sel_start[1:])
            pos = np.arange(out.size, dtype=np.int64) - sel_start[:-1][sel_img]
            # reduce each term mod 1e9+7 BEFORE the float64 bincount so the
            # per-image partial sums stay ≤ n_out·(1e9+7) — integer-exact in
            # float64 up to ~9e6 output pixels per image, far above any
            # container; then one final mod on int64
            chks = (
                np.bincount(
                    sel_img,
                    weights=(out * (pos + 1)) % _CHECKSUM_MOD,
                    minlength=m,
                )
                .astype(np.int64)
                % _CHECKSUM_MOD
            )
            nz = n_out > 0
            micro = np.zeros(m, dtype=np.int64)
            micro[nz] = (2 * sums[nz] * 1_000_000 + n_out[nz]) // (
                2 * n_out[nz]
            )
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "out_width": (-(-widths // 2)).astype(np.int32),
                    "out_height": (((-(-lens // widths)) + 1) // 2).astype(
                        np.int32
                    ),
                    "n_out_pixels": n_out.astype(np.int32),
                    "out_byte_sum": sums,
                    "out_mean_byte": micro / 1_000_000.0,
                    "out_pos_checksum": chks,
                }
            )

    prepared = df.select(F.col(doc_id), media_container().alias("media"))
    return prepared.mapInPandas(resize, RESIZE_SCHEMA)


#: average-hash output schema (16 uppercase hex chars = 64 bits)
AHASH_SCHEMA = "doc_id bigint, ahash string"


def ahash(
    df: DataFrame, doc_id: str = "doc_id", width: int = MEDIA_WIDTH
) -> DataFrame:
    """Perceptual average-hash (aHash) per gray8 raster — the image
    near-dup fingerprint (pHash family): map every pixel to one cell of
    an 8x8 grid (cell_row = row*8 // height, cell_col = col*8 // width —
    a pure partition assignment for ANY raster width, no boundary
    arithmetic; on the default 16-wide container col*8//16 ≡ col//2),
    set each cell's bit iff its mean is >= the raster mean, and pack the
    64 bits big-endian into 16 uppercase hex chars.

    Determinism: the bit test is the exact integer cross-multiplication
    ``cell_sum * n_pixels >= total_sum * cell_n`` (empty cells stay 0),
    and packing is two 32-bit halves — no 64-bit sign wrap anywhere, so
    the DuckDB oracle reproduces the hash byte-for-byte from the payload.
    Same plumbing contract as `decode_features`: containers assembled
    JVM-side, decoded by `decode_media` inside Arrow-batched mapInPandas
    (a real pHash/dHash kernel slots into the numpy block), no shuffle,
    no driver."""

    def hash_batch(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        # the per-image spelling paid ~6 numpy allocations + a 64-step
        # Python packing loop PER ROW; here the grid assignment / cell sums
        # / bit tests / packing run as single whole-batch numpy expressions
        # (per-image identity is a composite bincount key img*64+cell).
        # Bit-exactness: cell sums are integer-valued float64 (exact below
        # 2^53), compared on int64 exactly like the per-image spelling.
        for pdf in batches:
            m = len(pdf)
            if m == 0:
                yield _empty_frame(AHASH_SCHEMA)
                continue
            ids, _, widths, lens, offs, arr = _decode_batch(pdf, doc_id)
            total_px = int(offs[-1])
            img = np.repeat(np.arange(m, dtype=np.int64), lens)
            idx = np.arange(total_px, dtype=np.int64) - offs[img]
            w_e = widths[img]
            heights = -(-lens // widths)  # 0 for empty rasters (no elements)
            h_e = heights[img]
            cell = ((idx // w_e) * 8 // h_e) * 8 + (idx % w_e) * 8 // w_e
            code = img * 64 + cell
            sums = (
                np.bincount(code, weights=arr, minlength=64 * m)
                .astype(np.int64)
                .reshape(m, 64)
            )
            cnts = np.bincount(code, minlength=64 * m).reshape(m, 64)
            totals = sums.sum(axis=1).reshape(m, 1)
            n_col = lens.reshape(m, 1)
            bits = (cnts > 0) & (sums * n_col >= totals * cnts)
            pw = np.int64(1) << (31 - np.arange(32, dtype=np.int64))
            hi = (bits[:, :32] * pw).sum(axis=1)
            lo = (bits[:, 32:] * pw).sum(axis=1)
            # empty rasters fall out naturally: no elements -> all bits 0
            # -> "0" * 16, the same all-zero hash as before
            hashes = [f"{a:08X}{b:08X}" for a, b in zip(hi, lo)]
            yield pd.DataFrame({"doc_id": ids, "ahash": hashes})

    prepared = df.select(
        F.col(doc_id), media_container(width=width).alias("media")
    )
    return prepared.mapInPandas(hash_batch, AHASH_SCHEMA)
