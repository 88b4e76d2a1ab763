"""GeoTIFF ↔ tile-table adapters (SURVEY §2 missing-piece #1): the
bridge between the reference's wall-to-wall rasterio I/O
(`0_preprocessing/feature_stacking.py:72-102,219-251`,
`2_segmentation/image_segmentation.py:153-162`) and this engine's
long-format pixel tables.

Two codec layers behind one seam:

- **rasterio**, when importable: full GeoTIFF support (compression,
  CRS/transform metadata, block-windowed executor-side reads for the
  scale path).
- **built-in TIFF codec**, always available: little-endian,
  chunky-interleaved TIFF 6.0 AND BigTIFF (uint8 / int16 / uint16 /
  float32 / float64, any band count), uncompressed or LZW, single- or
  multi-strip or internally TILED — enough to honor the reference's
  sink contract (LZW + 1024×1024 internal tiles + BigTIFF,
  `0_preprocessing/feature_stacking.py:226-235`) without rasterio.
  This pins the adapter contract — round-trip tested in this
  rasterio-less container — so swapping in rasterio changes no call
  sites.

Scale note: ``tiff_to_tile_table`` with rasterio distributes
block-window reads across executors (each task opens the file and
reads only its window); the minimal codec reads driver-side and is the
contract/test path, sized for single scenes. Distributed OUTPUT at
100 TB goes through the tiled raster sinks (S7/S9), not a single .tif.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from ..raster.tiles import pivot_tile

try:  # optional geospatial dependency — absent in this container
    import rasterio as _rasterio
except ImportError:  # pragma: no cover
    _rasterio = None

# --- built-in TIFF codec ---------------------------------------------------

# TIFF field types used here: SHORT, LONG, LONG8 (BigTIFF)
_TIFF_TYPES = {3: ("H", 2), 4: ("I", 4), 16: ("Q", 8)}
_DTYPES = {
    # (bits, sample_format) -> numpy dtype; format 1=uint, 2=int, 3=float
    (8, 1): np.uint8,
    (16, 1): np.uint16,
    (16, 2): np.int16,
    (32, 3): np.float32,
    (64, 3): np.float64,
}
_FORMATS = {np.dtype(k): v for v, k in {
    (8, 1): np.uint8, (16, 1): np.uint16, (16, 2): np.int16,
    (32, 3): np.float32, (64, 3): np.float64,
}.items()}

_LZW_CLEAR, _LZW_EOI = 256, 257


def _lzw_encode(data: bytes) -> bytes:
    """TIFF-variant LZW (MSB-first bit packing, early code-width change,
    table reset at 4094) — the public TIFF 6.0 §13 algorithm."""
    out = bytearray()
    bitbuf = nbits = 0
    width = 9

    def emit(code: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf = (bitbuf << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((bitbuf >> nbits) & 0xFF)

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    emit(_LZW_CLEAR)
    w = b""
    for byte in data:
        wc = w + bytes([byte])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        table[wc] = next_code
        next_code += 1
        # early change: widen one code BEFORE the width overflows
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        if next_code >= 4094:
            emit(_LZW_CLEAR)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        w = bytes([byte])
    if w:
        emit(table[w])
        # The decoder appends a table entry upon READING this final
        # code and then applies its early-change check — so the
        # encoder must advance the phantom next_code and re-check the
        # width before emitting EOI, or EOI's width disagrees at the
        # 2^w boundary (libtiff's LZWPostEncode does the same bump).
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
    emit(_LZW_EOI)
    if nbits:
        out.append((bitbuf << (8 - nbits)) & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes) -> bytes:
    """Inverse of :func:`_lzw_encode` (same early-change discipline)."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    bitpos = 0
    total_bits = len(data) * 8
    prev: bytes | None = None
    while bitpos + width <= total_bits:
        byte0 = bitpos >> 3
        chunk = int.from_bytes(data[byte0 : byte0 + 4].ljust(4, b"\0"), "big")
        code = (chunk >> (32 - (bitpos & 7) - width)) & ((1 << width) - 1)
        bitpos += width
        if code == _LZW_EOI:
            break
        if code == _LZW_CLEAR:
            del table[258:]
            width = 9
            prev = None
            continue
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"corrupt LZW stream: code {code} > table size")
        # the decoder's table trails the encoder's by exactly one entry
        # (it reconstructs entry i only upon reading code i+1), so it
        # widens at 2^w - 2 where the encoder widens at 2^w - 1 — the
        # libtiff "early change" pairing
        if prev is not None and len(table) == (1 << width) - 2 and width < 12:
            width += 1
        out += entry
        prev = entry
    return bytes(out)


def write_tiff(
    path: str,
    arr: np.ndarray,
    *,
    compression: str = "none",
    tile: tuple[int, int] | None = None,
    bigtiff: bool = False,
) -> None:
    """Write (H, W) or (H, W, C) as a little-endian chunky-interleaved
    TIFF. Defaults preserve the original contract (uncompressed, one
    strip, classic TIFF); the reference's sink profile
    (`feature_stacking.py:226-235`) is ``compression="lzw",
    tile=(1024, 1024), bigtiff=True``. ``tile`` is (width, height);
    edge tiles are zero-padded to full tile size per TIFF 6.0 §15."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    if arr.dtype not in _FORMATS:
        raise ValueError(f"unsupported dtype {arr.dtype}")
    if compression not in ("none", "lzw"):
        raise ValueError(f"unsupported compression {compression!r}")
    bits, fmt = _FORMATS[arr.dtype]
    arr = np.ascontiguousarray(arr, dtype=arr.dtype.newbyteorder("<"))
    comp_id = 5 if compression == "lzw" else 1
    pack = _lzw_encode if compression == "lzw" else (lambda b: b)

    chunks: list[bytes] = []
    entries: list[tuple[int, int, list[int]]] = [  # (tag, type, values)
        (256, 4, [w]),            # ImageWidth
        (257, 4, [h]),            # ImageLength
        (258, 3, [bits] * c),     # BitsPerSample
        (259, 3, [comp_id]),      # Compression
        (262, 3, [1]),            # Photometric = BlackIsZero
        (277, 3, [c]),            # SamplesPerPixel
        (339, 3, [fmt] * c),      # SampleFormat
    ]
    off_type = 16 if bigtiff else 4
    if tile is None:
        chunks.append(pack(arr.tobytes()))
        entries += [
            (273, off_type, [0]),             # StripOffsets (patched below)
            (278, 4, [h]),                    # RowsPerStrip = whole image
            (279, off_type, [len(chunks[0])]),  # StripByteCounts
        ]
        offsets_tag = 273
    else:
        tw, th = tile
        if tw % 16 or th % 16:
            raise ValueError("TIFF tile dimensions must be multiples of 16")
        for ty in range(0, h, th):
            for tx in range(0, w, tw):
                block = np.zeros((th, tw, c), dtype=arr.dtype)
                sub = arr[ty : ty + th, tx : tx + tw]
                block[: sub.shape[0], : sub.shape[1]] = sub
                chunks.append(pack(block.tobytes()))
        entries += [
            (322, 4, [tw]),                        # TileWidth
            (323, 4, [th]),                        # TileLength
            (324, off_type, [0] * len(chunks)),    # TileOffsets (patched)
            (325, off_type, [len(b) for b in chunks]),  # TileByteCounts
        ]
        offsets_tag = 324

    # layout: header | chunk data | IFD | out-of-line arrays
    data_start = 16 if bigtiff else 8
    offs, pos = [], data_start
    for b in chunks:
        offs.append(pos)
        pos += len(b)
    entries = [(t, ty, offs if t == offsets_tag else v) for t, ty, v in entries]
    entries.sort(key=lambda e: e[0])
    ifd_off = pos
    inline = 8 if bigtiff else 4
    ifd_size = (8 + 20 * len(entries) + 8) if bigtiff else (2 + 12 * len(entries) + 4)
    extra = bytearray()
    packed_entries = []
    for tag, typ, values in entries:
        code, _ = _TIFF_TYPES[typ]
        payload = struct.pack(f"<{len(values)}{code}", *values)
        if len(payload) <= inline:
            val_field = payload.ljust(inline, b"\0")
        else:
            off = ifd_off + ifd_size + len(extra)
            extra += payload
            val_field = struct.pack("<Q" if bigtiff else "<I", off).ljust(inline, b"\0")
        packed_entries.append((tag, typ, len(values), val_field))

    with open(path, "wb") as f:
        if bigtiff:
            f.write(b"II+\x00" + struct.pack("<HHQ", 8, 0, ifd_off))
        else:
            f.write(b"II*\x00" + struct.pack("<I", ifd_off))
        for b in chunks:
            f.write(b)
        if bigtiff:
            f.write(struct.pack("<Q", len(packed_entries)))
            for tag, typ, cnt, val in packed_entries:
                f.write(struct.pack("<HHQ", tag, typ, cnt) + val)
            f.write(struct.pack("<Q", 0))  # no next IFD
        else:
            f.write(struct.pack("<H", len(packed_entries)))
            for tag, typ, cnt, val in packed_entries:
                f.write(struct.pack("<HHI", tag, typ, cnt) + val)
            f.write(struct.pack("<I", 0))
        f.write(extra)


def _read_ifd_value(f, typ: int, cnt: int, raw: bytes, big: bool) -> list[int]:
    code, size = _TIFF_TYPES[typ]
    total = size * cnt
    inline = 8 if big else 4
    if total <= inline:
        return list(struct.unpack(f"<{cnt}{code}", raw[:total]))
    (off,) = struct.unpack("<Q" if big else "<I", raw[: 8 if big else 4])
    pos = f.tell()
    f.seek(off)
    out = list(struct.unpack(f"<{cnt}{code}", f.read(total)))
    f.seek(pos)
    return out


def read_tiff(path: str) -> np.ndarray:
    """Read a little-endian TIFF or BigTIFF (uncompressed or LZW,
    stripped or tiled) to (H, W, C). Uses rasterio when available (full
    format support); otherwise the built-in codec."""
    if _rasterio is not None:  # pragma: no cover - rasterio not in container
        with _rasterio.open(path) as src:
            return np.transpose(src.read(), (1, 2, 0))
    with open(path, "rb") as f:
        head = f.read(4)
        if head[:2] != b"II":
            raise ValueError("built-in codec reads little-endian TIFF only")
        (version,) = struct.unpack("<H", head[2:4])
        if version == 42:
            big = False
            (ifd_off,) = struct.unpack("<I", f.read(4))
        elif version == 43:
            big = True
            osize, _pad = struct.unpack("<HH", f.read(4))
            if osize != 8:
                raise ValueError(f"unsupported BigTIFF offset size {osize}")
            (ifd_off,) = struct.unpack("<Q", f.read(8))
        else:
            raise ValueError(f"not a TIFF (version {version})")
        f.seek(ifd_off)
        if big:
            (n_entries,) = struct.unpack("<Q", f.read(8))
        else:
            (n_entries,) = struct.unpack("<H", f.read(2))
        tags: dict[int, list[int]] = {}
        for _ in range(n_entries):
            if big:
                tag, typ, cnt = struct.unpack("<HHQ", f.read(12))
                raw = f.read(8)
            else:
                tag, typ, cnt = struct.unpack("<HHI", f.read(8))
                raw = f.read(4)
            if typ in _TIFF_TYPES:
                tags[tag] = _read_ifd_value(f, typ, cnt, raw, big)
        w, h = tags[256][0], tags[257][0]
        comp = tags.get(259, [1])[0]
        if comp not in (1, 5):
            raise ValueError(f"built-in codec reads compression 1/5 only, got {comp}")
        unpack = _lzw_decode if comp == 5 else (lambda b: b)
        c = tags.get(277, [1])[0]
        bits = tags[258][0]
        fmt = tags.get(339, [1])[0]
        dtype = np.dtype(_DTYPES[(bits, fmt)]).newbyteorder("<")

        def _chunk(off: int, nbytes: int) -> bytes:
            f.seek(off)
            return unpack(f.read(nbytes))

        if 322 in tags:  # tiled layout
            tw, th = tags[322][0], tags[323][0]
            tiles_across = -(-w // tw)
            arr = np.zeros((h, w, c), dtype=dtype)
            for idx, (off, nb) in enumerate(zip(tags[324], tags[325])):
                block = np.frombuffer(_chunk(off, nb), dtype=dtype)
                block = block[: th * tw * c].reshape(th, tw, c)
                ty, tx = divmod(idx, tiles_across)
                y0, x0 = ty * th, tx * tw
                ys, xs = min(th, h - y0), min(tw, w - x0)
                arr[y0 : y0 + ys, x0 : x0 + xs] = block[:ys, :xs]
            return arr
        data = b"".join(
            _chunk(off, nb) for off, nb in zip(tags[273], tags[279])
        )
        return np.frombuffer(data, dtype=dtype).reshape(h, w, c)


# --- Spark adapters -------------------------------------------------------


def tiff_to_tile_table(
    spark: SparkSession, path: str, band_names: list[str] | None = None
) -> DataFrame:
    """.tif → long-format pixel table (x int, y int, <band> double ...)
    — the first artifact a reference user holds, landed in the engine's
    native shape (feed to ``assign_tiles``/``halo_duplicate`` next).

    With rasterio the read is window-distributed: the driver only
    enumerates block windows; each executor task opens the file and
    reads its own window. The built-in codec path reads driver-side
    (contract/test path)."""
    if _rasterio is not None:  # pragma: no cover - rasterio not in container
        with _rasterio.open(path) as src:
            n_bands = src.count
            names = band_names or [f"b{i+1}" for i in range(n_bands)]
            windows = [w for _, w in src.block_windows(1)]
        specs = spark.createDataFrame(
            [
                (w.col_off, w.row_off, w.width, w.height)
                for w in windows
            ],
            "col_off int, row_off int, width int, height int",
        )
        schema = "x int, y int, " + ", ".join(f"{n} double" for n in names)

        def read_window(batches):
            import rasterio as rio
            from rasterio.windows import Window

            with rio.open(path) as s:
                for pdf in batches:
                    for co, ro, ww, hh in zip(
                        pdf["col_off"], pdf["row_off"], pdf["width"], pdf["height"]
                    ):
                        block = s.read(window=Window(co, ro, ww, hh))
                        ys, xs = np.meshgrid(
                            np.arange(ro, ro + hh), np.arange(co, co + ww), indexing="ij"
                        )
                        data = {"x": xs.ravel(), "y": ys.ravel()}
                        for i, n in enumerate(names):
                            data[n] = block[i].astype(np.float64).ravel()
                        yield pd.DataFrame(data)

        return specs.repartition(max(1, len(windows) // 4)).mapInPandas(
            read_window, schema=schema
        )

    arr = read_tiff(path).astype(np.float64)
    h, w, c = arr.shape
    names = band_names or [f"b{i+1}" for i in range(c)]
    ys, xs = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    pdf = pd.DataFrame({"x": xs.ravel().astype(np.int32), "y": ys.ravel().astype(np.int32)})
    for i, n in enumerate(names):
        pdf[n] = arr[:, :, i].ravel()
    return spark.createDataFrame(pdf)


def tile_table_to_tiff(
    df: DataFrame,
    path: str,
    value_cols: list[str],
    fill: float = np.nan,
    max_rows: int = 64_000_000,
    **tiff_kwargs,
) -> None:
    """Long-format pixel table → single float64 .tif (bands =
    value_cols). Mirrors the reference's whole-scene GeoTIFF writes
    (`2_segmentation/image_segmentation.py:153-162`): a DRIVER-side
    sink for single scenes — at 100 TB use the tiled parquet raster
    sinks (S7/S9) and export per tile. ``max_rows`` enforces that
    contract: the table is collected to driver memory, so a table
    larger than one scene must be rejected, not OOM'd (64M pixels ≈
    1.5 GB collected at 3 float64 bands). ``tiff_kwargs`` pass through
    to :func:`write_tiff` (``compression="lzw"``, ``tile=(1024,
    1024)``, ``bigtiff=True`` is the reference sink profile)."""
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"tile table has {n} rows > max_rows={max_rows}: "
            "tile_table_to_tiff is a driver-side SINGLE-SCENE export. "
            "For scene collections use the tiled parquet raster sinks "
            "(sources/sinks.py S7/S9) and export per tile, or raise "
            "max_rows explicitly if the scene really fits driver RAM."
        )
    pdf = df.select("x", "y", *value_cols).toPandas()  # bounded: max_rows guard above
    if pdf.empty:
        raise ValueError("empty tile table")
    arr, _, _ = pivot_tile(pdf, value_cols, fill)
    h, w, _ = arr.shape
    if _rasterio is not None:  # pragma: no cover - rasterio not in container
        with _rasterio.open(
            path,
            "w",
            driver="GTiff",
            width=w,
            height=h,
            count=len(value_cols),
            dtype="float64",
        ) as dst:
            dst.write(np.transpose(arr, (2, 0, 1)))
        return
    write_tiff(path, arr, **tiff_kwargs)
