"""L3 multimodal columns — the reference's Assignment-2 image pipeline as
Arrow-batched pandas UDFs over opaque binary columns.

Reference parity (SURVEY §2.4):
  I1/I3 binary scan + ``getOrthoTif`` zip→tif decode (``a2_ahuja.py:13-24,
       416``) → ``decode_image``: ZIP containers are unpacked for real
       (member located by '.tif' suffix, the reference's rule), then a
       full codec (tifffile/PIL) is attempted, then the struct-only
       baseline uncompressed-TIFF reader ``_tiff_decode`` — which IS the
       exercised path in this container, because the m01/m03 fixtures are
       written as real uncompressed TIFFs (``_tiff_image_bytes``). The
       raw-tensor reshape remains only as the last-resort fallback for
       opaque payloads; a production deploy with tifffile installed needs
       zero edits.
  I4   ``divideImage`` tiling with row-major ids '{img}-{n}'
       (``a2_ahuja.py:32-44``) → ``tile_images`` (mapInPandas, 1→N rows).
  I5   intensity = mean(RGB)·(IR/100) (``a2_ahuja.py:47-50``).
  I6/I7 k×k block-mean pooling (``a2_ahuja.py:53-72``).
  I8   ∂x/∂y gradient features quantized to {-1,0,1}, flattened+concat →
       2·n·(n−1) dims (``a2_ahuja.py:77-87``).
  I9   md5 chunk signature with the exact residual rule: vector split into
       n_chunks pieces, the first ``len % n_chunks`` pieces one element
       longer; hex char ``idx`` of each chunk's md5 (``a2_ahuja.py:99-120``).
  I10/I11 banding + same-position bucket equi-join for candidate pairs
       (``a2_ahuja.py:140-170``) — relational form: posexplode + self-join.

Images table: no driver-provided binary fixture exists (FIXTURES.md A4),
so the engine writes its own REAL one — one deterministic ``.tif`` per
embeddings vec_id (``_m01_fixture_dir``, atomic once-per-sf write) —
and ``images_df`` scans it with Spark's native ``binaryFile`` source
(round 6; through round 5 the bytes were synthesized in-plan). Payload
bytes are deterministic per id, near-duplicates planted at ids ≡ 9
(mod 10) (noisy copy of id−1) so the funnel has true positives to find.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_analytics_cse545_spark.sources import load_table

H = W = 40        # synthetic image size
CHANNELS = 4      # RGB + infrared, as in the reference (A2 spec p.1)
TILE = 20         # 2×2 tiling → 4 tiles per image
POOL = 2          # 2×2 block mean → 10×10 intensity grid (180-dim features
                  # → ~22 elements per signature chunk, a rich md5 alphabet;
                  # coarser pooling left only 27 possible chunk values and
                  # every band bucket collided)
N_CHUNKS = 8      # md5 signature chunks (reference uses 128 on 4900 dims)
SIG_IDX = 0       # hex char index taken from each chunk md5 (a2:231 uses 1)
SIG_WIDTH = 2     # hex chars per chunk → 256 buckets per band. The
                  # reference tunes bandwidth=13 bits for selectivity
                  # (a2_ahuja.py:133-139); with 1 char (16 buckets) the
                  # band self-join fans out ~16× more pairs at 8k tiles.

# Reference-exact banding (``computeBuckets2``, a2_ahuja.py:140-149):
# 128 chunks × 1 hex char (md5 index 1, a2_ahuja.py:231) → 128-char hex
# signature → 512-bit string → ⌊512/13⌋ = 39 bands of 13 bits (the last
# 512 − 39·13 = 5 bits are dropped, as in the reference).
REF_N_CHUNKS = 128
REF_SIG_IDX = 1
REF_BANDWIDTH = 13
REF_SIG_BITS = REF_N_CHUNKS * 4
REF_N_BANDS = REF_SIG_BITS // REF_BANDWIDTH


# ---------------------------------------------------------------------------
# synthetic binary source (stands in for sc.binaryFiles / binaryFile source)
# ---------------------------------------------------------------------------

def _image_bytes(base_id: int) -> bytes:
    """Deterministic synthetic image payload for ``base_id``; ids ≡ 9
    (mod 10) are planted near-duplicates (noisy copy) of id−1. Shared by
    the in-plan synthetic source and the on-disk binaryFile fixture so
    both paths see identical pixels."""
    rng_id = base_id - 1 if base_id % 10 == 9 else base_id
    rng = np.random.default_rng(int(rng_id))
    img = rng.integers(0, 256, size=(H, W, CHANNELS), dtype=np.uint8)
    if base_id % 10 == 9:
        noise_rng = np.random.default_rng(int(base_id) + 10_000_000)
        noise = noise_rng.integers(0, 2, size=img.shape, dtype=np.uint8)
        img = (img.astype(np.int16) + noise).clip(0, 255).astype(np.uint8)
    return img.tobytes()


def _tiff_image_bytes(base_id: int) -> bytes:
    """Same pixels as ``_image_bytes`` but wrapped in a real uncompressed
    TIFF container, so the decode path in this container is an actual
    TIFF parse (via ``_tiff_decode``), not a reshape fallback."""
    arr = np.frombuffer(_image_bytes(base_id), dtype=np.uint8).reshape(H, W, CHANNELS)
    return _tiff_encode(arr)


def _m01_fixture_dir(sf_dir: str) -> str:
    """One real ``.tif`` file per embeddings vec_id (same deterministic
    pixels as ``_tiff_image_bytes``), written once per scale factor into
    a shared temp dir via the atomic fixture protocol — m01's flagship
    funnel scans these with Spark's native ``binaryFile`` source
    (round-6, VERDICT r5 task #8: the in-plan byte synthesis that m01
    used through round 5 survives only in ``_image_bytes`` itself; the
    plan now starts at an actual file scan, like m03)."""
    import hashlib
    import os

    import pyarrow.parquet as pq

    from big_data_analytics_cse545_spark.sources.fixtures import ensure_fixture_dir

    # digest memo: images_df builds a plan many times per session, and
    # re-reading every vec_id just to recompute an unchanged cache key
    # is O(N) driver work per plan build — key the memo on the parquet
    # file's identity. (path, mtime, size) alone misses an in-place
    # rewrite of identical byte size within the filesystem's mtime
    # granularity — exactly the chaos-rewrite case the digest exists
    # for (round-6 advice) — so the key also folds in an md5 of the
    # file's head and tail (the tail contains the parquet footer, whose
    # row-group stats change whenever the vec_id set does); that keeps
    # the hit path O(1) in row count while making it content-sensitive.
    src = os.path.join(sf_dir, "embeddings.parquet")
    with open(src, "rb") as f:
        head = f.read(4096)
        f.seek(-min(4096, os.path.getsize(src)), os.SEEK_END)
        tail = f.read(4096)
    edge_fp = hashlib.md5(head + tail).hexdigest()
    stat_key = (
        os.path.abspath(src),
        os.path.getmtime(src),
        os.path.getsize(src),
        edge_fp,
    )
    cached = _M01_DIGEST_MEMO.get(stat_key)
    if cached is not None and os.path.isdir(cached):
        return cached

    ids = [int(i) for i in pq.read_table(src, columns=["vec_id"]).column("vec_id").to_pylist()]
    # This is FIXTURE PREP, not engine work: it stands in for an image
    # corpus that already exists on storage in any real deployment, and
    # it writes one file per row serially on the driver. Bound it so a
    # misuse at data scale fails loudly instead of blocking the driver
    # for minutes and exhausting inodes (round-6 review) — the bench
    # SFs are thousands of rows; a real corpus never goes through here.
    if len(ids) > 250_000:
        raise ValueError(
            f"_m01_fixture_dir: {len(ids)} rows is data scale, not fixture "
            "scale; point images_df at a real binaryFile directory instead"
        )

    def write(tmp: str) -> None:
        for i in ids:
            with open(os.path.join(tmp, f"img{i}.tif"), "wb") as f:
                f.write(_tiff_image_bytes(i))

    # key by SOURCE-PATH hash AND the id-set digest: two corpora sharing
    # a directory basename (tmp_path twins, chaos rewrites) must never
    # share a fixture, and pruning must only ever touch fixtures of
    # THIS exact source path — a basename-keyed prefix would let a
    # rewrite of /x/sf delete the live fixture of /y/sf (round-6
    # review). The basename rides along for human readability only.
    tag = os.path.basename(os.path.normpath(sf_dir))
    path_key = hashlib.md5(os.path.abspath(src).encode()).hexdigest()[:8]
    digest = hashlib.md5(
        ",".join(str(i) for i in sorted(ids)).encode()
    ).hexdigest()[:10]
    # prune: a REWRITE of this source (new digest, same path) replaces
    # its stale-digest fixture instead of accumulating; the fullmatch
    # regex keeps a prefix collision from ever widening the blast radius
    prefix = f"spark_graft_m01_tifs_{tag}_{path_key}_"
    d = ensure_fixture_dir(
        f"{prefix}{digest}_v1",
        write,
        prune_prefix=prefix,
        prune_re=rf"{re.escape(prefix)}[0-9a-f]{{10}}_v1",
    )
    _M01_DIGEST_MEMO[stat_key] = d
    return d


_M01_DIGEST_MEMO: dict = {}


def images_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(img_id string, content binary, width, height, channels) — opaque
    payload + typed metadata, the engine's multimodal column contract.
    Backed by a REAL ``binaryFile`` scan over the per-sf ``.tif``
    fixture (``sc.binaryFiles`` parity, ``a2_ahuja.py:416``); img_id is
    recovered from the file path (I2 ``getFileName``,
    ``a2_ahuja.py:21``)."""
    d = _m01_fixture_dir(sf_dir)
    # The tiny .tif files pack into ~1 scan split under
    # maxPartitionBytes, which would serialize the fused Python funnel.
    # 8-way is the measured sweet spot for this chained-mapInPandas
    # stage on local[32]: 1 partition = serial (10s), 32 = cold-worker
    # storm (19s), 8 = 7s. On a real cluster this would be
    # max(8, input splits); the constant is the local-mode bound.
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tif")
        .load(d)
        .repartition(8)
    )
    return raw.select(
        # sign-aware: a corpus with negative vec_ids writes img-5.tif,
        # and an unsigned pattern would collapse every such file to the
        # duplicate img_id 'img'
        F.concat(
            F.lit("img"),
            F.regexp_extract(F.col("path"), r"img(-?\d+)\.tif$", 1),
        ).alias("img_id"),
        "content",
        F.lit(W).alias("width"),
        F.lit(H).alias("height"),
        F.lit(CHANNELS).alias("channels"),
    )


def _zip_tif_member(payload: bytes) -> bytes | None:
    """If ``payload`` is a ZIP container, return the bytes of the member
    whose name ends in '.tif' — the reference's suffix rule for locating
    the image inside each zip (``a2_ahuja.py:13-24``). None otherwise."""
    if payload[:4] != b"PK\x03\x04":
        return None
    import io
    import zipfile

    try:
        with zipfile.ZipFile(io.BytesIO(payload)) as zf:
            for name in zf.namelist():
                if name.endswith(".tif"):
                    return zf.read(name)
    except zipfile.BadZipFile:
        return None
    return None


def _tiff_encode(arr: np.ndarray, rows_per_strip: int = 16) -> bytes:
    """Minimal baseline TIFF writer — little-endian, uncompressed, 8-bit,
    chunky planar, strip-organized — built from ``struct`` alone so the
    fixtures this engine tests against are REAL TIFF containers even in a
    codec-less container. Output is readable by tifffile/PIL (baseline
    TIFF 6.0 required tags only)."""
    import struct

    if arr.dtype != np.uint8:
        raise ValueError("baseline writer emits 8-bit samples only")
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, s = arr.shape
    data = np.ascontiguousarray(arr).tobytes()
    row_bytes = w * s
    strips = [
        data[r * row_bytes : min(r + rows_per_strip, h) * row_bytes]
        for r in range(0, h, rows_per_strip)
    ]
    n = len(strips)
    # layout: 8-byte header | strip data | external value arrays | IFD
    strip_offsets, pos = [], 8
    for sdata in strips:
        strip_offsets.append(pos)
        pos += len(sdata)

    external = bytearray()

    def values(tag: int, typ: int, vals: list[int]) -> tuple:
        nonlocal external
        size = {3: 2, 4: 4}[typ]
        fmt = {3: "H", 4: "I"}[typ]
        packed = struct.pack(f"<{len(vals)}{fmt}", *vals)
        if len(packed) <= 4:
            return (tag, typ, len(vals), packed.ljust(4, b"\x00"))
        off = pos + len(external)
        external += packed
        return (tag, typ, len(vals), struct.pack("<I", off))

    tags = [
        values(256, 4, [w]),                      # ImageWidth
        values(257, 4, [h]),                      # ImageLength
        values(258, 3, [8] * s),                  # BitsPerSample
        values(259, 3, [1]),                      # Compression = none
        values(262, 3, [1 if s == 1 else 2]),     # Photometric: gray/RGB
        values(273, 4, strip_offsets),            # StripOffsets
        values(277, 3, [s]),                      # SamplesPerPixel
        values(278, 4, [rows_per_strip]),         # RowsPerStrip
        values(279, 4, [len(x) for x in strips]), # StripByteCounts
        values(284, 3, [1]),                      # PlanarConfiguration chunky
    ]
    if s > 3:  # 4th channel (infrared) declared as an unspecified extra
        tags.append(values(338, 3, [0] * (s - 3)))
    tags.sort()
    ifd_off = pos + len(external)
    out = bytearray(struct.pack("<2sHI", b"II", 42, ifd_off))
    for sdata in strips:
        out += sdata
    out += external
    out += struct.pack("<H", len(tags))
    for tag, typ, cnt, val in tags:
        out += struct.pack("<HHI", tag, typ, cnt) + val
    out += struct.pack("<I", 0)  # no next IFD
    return bytes(out)


def _tiff_decode(raw: bytes) -> np.ndarray | None:
    """Struct-only baseline TIFF reader (both byte orders, uncompressed,
    8-bit, chunky planar, any strip layout) — the real decode path for
    this container, mirroring what ``tifffile.imread`` does for the
    reference's orthoTIFs (``a2_ahuja.py:21``). Returns None for
    non-TIFF payloads or TIFF features beyond baseline (compression,
    planar, tiles, >8-bit) so callers can fall through."""
    import struct

    if len(raw) < 8:
        return None
    if raw[:2] == b"II":
        bo = "<"
    elif raw[:2] == b"MM":
        bo = ">"
    else:
        return None
    try:
        magic, ifd_off = struct.unpack(bo + "HI", raw[2:8])
        if magic != 42:
            return None
        (ntags,) = struct.unpack_from(bo + "H", raw, ifd_off)
        tags: dict[int, list[int] | None] = {}
        for i in range(ntags):
            tag, typ, cnt = struct.unpack_from(bo + "HHI", raw, ifd_off + 2 + 12 * i)
            voff = ifd_off + 10 + 12 * i
            fmt = {1: "B", 3: "H", 4: "I"}.get(typ)
            if fmt is None:  # RATIONAL/ASCII/... — never a tag we need
                tags[tag] = None
                continue
            if struct.calcsize(fmt) * cnt > 4:
                (voff,) = struct.unpack_from(bo + "I", raw, voff)
            tags[tag] = list(struct.unpack_from(bo + str(cnt) + fmt, raw, voff))
    except struct.error:
        return None

    def one(tag: int, default: int | None = None) -> int | None:
        v = tags.get(tag)
        return v[0] if v else default

    width, height = one(256), one(257)
    offsets, counts = tags.get(273), tags.get(279)
    if not (width and height and offsets and counts):
        return None
    if one(259, 1) != 1 or one(284, 1) != 1:  # compressed / planar
        return None
    spp = one(277, 1) or 1
    if any(b != 8 for b in tags.get(258) or [8] * spp):
        return None
    if len(offsets) != len(counts):
        return None
    data = b"".join(raw[o : o + c] for o, c in zip(offsets, counts))
    if len(data) != width * height * spp:
        return None
    arr = np.frombuffer(data, dtype=np.uint8)
    return arr.reshape(height, width) if spp == 1 else arr.reshape(height, width, spp)


def _codec_decode(raw: bytes) -> np.ndarray | None:
    """Attempt a REAL image decode — tifffile first (the reference's
    codec, ``a2_ahuja.py:21``), then PIL, then the struct-only baseline
    TIFF reader above — so a production container takes the full-featured
    codec with zero edits while THIS container still decodes the real
    uncompressed-TIFF fixtures instead of falling back to a reshape.
    Returns None only when the payload is not a parseable image at all
    (e.g. a raw tensor)."""
    import io

    try:
        import tifffile  # type: ignore[import-not-found]
    except ImportError:
        tifffile = None
    if tifffile is not None:
        try:
            return np.asarray(tifffile.imread(io.BytesIO(raw)))
        except Exception:  # noqa: BLE001 — not a tiff; fall through
            pass
    try:
        from PIL import Image  # type: ignore[import-not-found]
    except ImportError:
        Image = None
    if Image is not None:
        try:
            return np.asarray(Image.open(io.BytesIO(raw)))
        except Exception:  # noqa: BLE001 — not a PIL-readable image
            pass
    return _tiff_decode(raw)


def decode_image(content: bytes, width: int, height: int, channels: int) -> np.ndarray:
    """I3 ``getOrthoTif`` (``a2_ahuja.py:13-24``): unpack the ZIP
    container (member located by '.tif' suffix) when present, decode via
    tifffile/PIL/the built-in baseline TIFF parser, and fall back to
    interpreting the payload as a raw uint8 tensor only for opaque
    non-image payloads. The engine's image fixtures are real uncompressed
    TIFFs, so the decode here is an actual TIFF parse in every
    container."""
    raw = _zip_tif_member(content)
    if raw is None:
        raw = content
    decoded = _codec_decode(raw)
    if decoded is not None:
        arr = np.ascontiguousarray(decoded, dtype=np.uint8)
        if arr.size != width * height * channels:
            raise ValueError(
                f"decoded size {arr.size} != {width}x{height}x{channels}"
            )
        return arr.reshape(height, width, channels)
    arr = np.frombuffer(raw, dtype=np.uint8)
    if arr.size != width * height * channels:
        raise ValueError(f"payload size {arr.size} != {width}x{height}x{channels}")
    return arr.reshape(height, width, channels)


# ---------------------------------------------------------------------------
# funnel stages (each a mapInPandas stage — Arrow batches, no per-row pickle)
# ---------------------------------------------------------------------------

def tile_images(images: DataFrame, decode_counter=None) -> DataFrame:
    """I4: split each H×W image into TILE×TILE cells, row-major ids
    '{img}-{n}' (``a2_ahuja.py:32-44``). 1→(H/TILE)·(W/TILE) fan-out.
    ``decode_counter`` (an optional Spark accumulator) counts decoded
    images — used by tests to prove the persist-fork decodes once."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids, payloads = [], []
            for _, row in batch.iterrows():
                img = decode_image(
                    row["content"], row["width"], row["height"], row["channels"]
                )
                if decode_counter is not None:
                    decode_counter.add(1)
                n = 0
                for r in range(0, H, TILE):        # row-major, as the reference
                    for c in range(0, W, TILE):
                        ids.append(f"{row['img_id']}-{n}")
                        payloads.append(img[r : r + TILE, c : c + TILE].tobytes())
                        n += 1
            yield pd.DataFrame({"tile_id": ids, "content": payloads})

    return images.mapInPandas(gen, schema="tile_id string, content binary")


def tile_intensity(tiles: DataFrame, pool: int = POOL) -> DataFrame:
    """I5+I6: per-pixel intensity mean(RGB)·(IR/100), then pool×pool
    block-mean downsample (``a2_ahuja.py:47-61``)."""
    n = TILE // pool

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = []
            for content in batch["content"]:
                t = np.frombuffer(content, dtype=np.uint8).reshape(TILE, TILE, CHANNELS)
                inten = t[:, :, :3].mean(axis=2) * (t[:, :, 3].astype(np.float64) / 100.0)
                pooled = inten.reshape(n, pool, n, pool).mean(axis=(1, 3))
                out.append(pooled.ravel().tolist())
            yield pd.DataFrame({"tile_id": batch["tile_id"], "intensity": out})

    return tiles.mapInPandas(gen, schema="tile_id string, intensity array<double>")


def _quantize(d: np.ndarray) -> np.ndarray:
    """I8 quantizer: exact ±1 thresholds to {-1,0,1} (``a2_ahuja.py:80-84``)."""
    q = np.zeros_like(d, dtype=np.int32)
    q[d > 1] = 1
    q[d < -1] = -1
    return q


def gradient_features(intensity: DataFrame, pool: int = POOL) -> DataFrame:
    """I8: row/col np.diff, quantize at ±1 to {-1,0,1}, flatten+concat —
    2·n·(n−1) dims (``a2_ahuja.py:77-87``)."""
    n = TILE // pool
    quantize = _quantize

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = []
            for vals in batch["intensity"]:
                m = np.array(vals).reshape(n, n)
                fx = quantize(np.diff(m, axis=1)).ravel()   # ∂x, n×(n−1)
                fy = quantize(np.diff(m, axis=0)).ravel()   # ∂y, (n−1)×n
                out.append(np.concatenate([fx, fy]).tolist())
            yield pd.DataFrame({"tile_id": batch["tile_id"], "features": out})

    return intensity.mapInPandas(gen, schema="tile_id string, features array<int>")


def chunk_signature(
    vec: list[int], n_chunks: int = N_CHUNKS, idx: int = SIG_IDX, width: int = 1
) -> str:
    """I9, exact reference semantics (``a2_ahuja.py:99-120``): split into
    n_chunks pieces, residual spread one-per-chunk over the first
    ``len % n_chunks`` chunks; hex char(s) at ``idx`` of each chunk's md5
    (width=1 is the reference's exact rule; wider slices are the engine's
    selectivity knob, cf. bandwidth tuning at a2_ahuja.py:133-139)."""
    arr = list(vec)
    base, resid = divmod(len(arr), n_chunks)
    sig, start = [], 0
    for i in range(n_chunks):
        size = base + (1 if i < resid else 0)
        chunk = arr[start : start + size]
        start += size
        digest = hashlib.md5(",".join(str(x) for x in chunk).encode()).hexdigest()
        sig.append(digest[idx : idx + width])
    return "".join(sig)


def signatures(features: DataFrame) -> DataFrame:
    """I9 as a scalar pandas UDF — Arrow-batched (one Python call per
    ~10k rows) instead of a row-at-a-time F.udf pickle round-trip."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def sig(vecs: pd.Series) -> pd.Series:
        return vecs.map(lambda v: chunk_signature(list(v), width=SIG_WIDTH))

    return features.select("tile_id", sig("features").alias("signature"))


def _bands_col():
    """Split a signature into N_CHUNKS bands of SIG_WIDTH hex chars."""
    return F.expr(
        f"transform(sequence(0, {N_CHUNKS - 1}), "
        f"i -> substring(signature, i * {SIG_WIDTH} + 1, {SIG_WIDTH}))"
    )


# ---------------------------------------------------------------------------
# reference-exact bit-level banding (I10, ``computeBuckets2``)
# ---------------------------------------------------------------------------

_BIT_NIBBLES = ", ".join(f"'{i:04b}'" for i in range(16))


def bit_bands_col(
    sig_col: str = "signature",
    bandwidth: int = REF_BANDWIDTH,
    n_bits: int = REF_SIG_BITS,
):
    """Array of ⌊n_bits/bandwidth⌋ integer band values from a hex
    signature, computed bit-exactly like ``computeBuckets2``
    (``a2_ahuja.py:140-149``): hex → concatenated 4-bit strings → cut
    into ``bandwidth``-bit slices → integer value per slice (trailing
    remainder bits dropped). All JVM-side (transform/elt/conv) so band
    keys never cross into Python."""
    n_bands = n_bits // bandwidth
    bits = (
        f"concat_ws('', transform("
        f"filter(split({sig_col}, ''), c -> c <> ''), "
        f"c -> elt(locate(c, '0123456789abcdef'), {_BIT_NIBBLES})))"
    )
    return F.expr(
        f"transform(sequence(0, {n_bands - 1}), "
        f"b -> cast(conv(substr({bits}, b * {bandwidth} + 1, {bandwidth}), 2, 10) AS INT))"
    )


def ref_bands_py(sig: str, bandwidth: int = REF_BANDWIDTH) -> list[int]:
    """Python twin of :func:`bit_bands_col` (same computeBuckets2
    arithmetic); used inside the Arrow batch that already computes the
    signature so the 512-bit expansion runs once per tile. Equality with
    the JVM expression is pinned by tests/test_multimodal.py."""
    bits = "".join(f"{int(c, 16):04b}" for c in sig)
    n_bands = len(bits) // bandwidth
    return [int(bits[b * bandwidth : (b + 1) * bandwidth], 2) for b in range(n_bands)]


def ref_signatures(features: DataFrame) -> DataFrame:
    """I9 with the reference's exact parameters: 128 chunks, hex char
    index 1, width 1 → 128-char signature (``a2_ahuja.py:99-120,231``),
    plus the 39 bit-band values per tile."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            sigs = [
                chunk_signature(list(v), n_chunks=REF_N_CHUNKS, idx=REF_SIG_IDX, width=1)
                for v in batch["features"]
            ]
            yield pd.DataFrame(
                {
                    "tile_id": batch["tile_id"],
                    "signature": sigs,
                    "bands": [ref_bands_py(s) for s in sigs],
                }
            )

    return features.mapInPandas(
        gen, schema="tile_id string, signature string, bands array<int>"
    )


def ref_band_candidates(sigs: DataFrame) -> DataFrame:
    """Candidate pairs sharing any (band position, 13-bit value) — the
    reference's same-position bucket equality over the 39 bit-bands.
    Callers persist ``sigs`` (the smallest relation) so both sides of
    the self-join read the cache instead of re-running the Python
    funnel; the posexplode itself is cheap JVM work done per side."""
    bands = sigs.select(
        "tile_id", F.posexplode("bands").alias("band", "bval")
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.tile_id") < F.col("b.tile_id")),
        )
        .select(F.col("a.tile_id").alias("t1"), F.col("b.tile_id").alias("t2"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# fused funnel kernel + bounded query-cache registry
# ---------------------------------------------------------------------------

def _tile_signature_rows(
    img_id,
    img: np.ndarray,
    pool: int = POOL,
    n_chunks: int = N_CHUNKS,
    idx: int = SIG_IDX,
    width: int = SIG_WIDTH,
    ref_bands: bool = False,
) -> tuple[list[str], list[str], list[list[int]]]:
    """The per-image tensor kernel of the a2 funnel (I4→I8+I9): tile →
    intensity → pool → gradient-quantize → chunk signature [+ bit
    bands]. ONE shared implementation consumed by ``fused_signatures``
    (the Spark mapInPandas stage) AND the driver-side signature-parquet
    fixture writer, so the materialized relation the DuckDB oracle reads
    can never drift from what the Spark plan computes."""
    n = TILE // pool
    ids: list[str] = []
    sigs: list[str] = []
    bands: list[list[int]] = []
    t_no = 0
    for r in range(0, H, TILE):        # row-major, as the reference
        for c in range(0, W, TILE):
            t = img[r : r + TILE, c : c + TILE]
            inten = t[:, :, :3].mean(axis=2) * (
                t[:, :, 3].astype(np.float64) / 100.0
            )
            pooled = inten.reshape(n, pool, n, pool).mean(axis=(1, 3))
            fx = _quantize(np.diff(pooled, axis=1)).ravel()
            fy = _quantize(np.diff(pooled, axis=0)).ravel()
            feat = np.concatenate([fx, fy]).tolist()
            sig = chunk_signature(feat, n_chunks=n_chunks, idx=idx, width=width)
            ids.append(f"{img_id}-{t_no}")
            sigs.append(sig)
            if ref_bands:
                bands.append(ref_bands_py(sig))
            t_no += 1
    return ids, sigs, bands


def fused_signatures(
    images: DataFrame,
    pool: int = POOL,
    n_chunks: int = N_CHUNKS,
    idx: int = SIG_IDX,
    width: int = SIG_WIDTH,
    ref_bands: bool = False,
) -> DataFrame:
    """The whole decode→tile→intensity→gradient→signature funnel FUSED
    into ONE mapInPandas stage (image bytes in → tile_id, signature
    [, bands] out).

    Stage-equivalent to composing ``tile_images → tile_intensity →
    gradient_features → signatures``/``ref_signatures`` — pinned equal by
    tests/test_multimodal.py — but spawns one Python runner per scan
    partition instead of one per chained stage. Round 2's m03 spent
    32.9s on 256 rows almost entirely in cold Python-worker spawn from
    five chained stages; the per-row kernels are linear numpy, so fusing
    changes worker count, not semantics. The reference funnel is likewise
    a single lineage (``a2_ahuja.py:416-430``)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids: list[str] = []
            sigs: list[str] = []
            bands: list[list[int]] = []
            for img_id, content, bw, bh, bc in zip(
                batch["img_id"],
                batch["content"],
                batch["width"],
                batch["height"],
                batch["channels"],
            ):
                img = decode_image(content, bw, bh, bc)
                t_ids, t_sigs, t_bands = _tile_signature_rows(
                    img_id, img, pool, n_chunks, idx, width, ref_bands
                )
                ids += t_ids
                sigs += t_sigs
                bands += t_bands
            out: dict = {"tile_id": ids, "signature": sigs}
            if ref_bands:
                out["bands"] = bands
            yield pd.DataFrame(out)

    schema = "tile_id string, signature string"
    if ref_bands:
        schema += ", bands array<int>"
    return images.mapInPandas(gen, schema=schema)


# Reused relations (m01's and m03's signatures, which both sides of the
# band self-join read) are per-call local checkpoints, the discipline of
# text.train_bpe and api.host_pagerank: each belongs to the DataFrame
# its query returns, Spark frees its blocks when that DataFrame is
# garbage-collected, and concurrent calls share nothing. A local
# checkpoint is not recomputed after an executor is lost.


def funnel_fork(
    images: DataFrame, pools: tuple[int, ...] = (POOL, 1), decode_counter=None
):
    """The reference's extra-credit fork (``a2_ahuja.py:322-406,431-433``):
    ONE persisted tile relation feeds the pooling→features→signature
    funnel at several factors — decode+tiling runs once, every branch
    re-reads the cache (the reference persists rdd4 for exactly this).
    Returns ``(tiles, {pool: signatures_df})``; the caller unpersists
    ``tiles`` after consuming the branches."""
    tiles = tile_images(images, decode_counter=decode_counter).persist()
    branches = {
        p: signatures(gradient_features(tile_intensity(tiles, pool=p), pool=p))
        for p in pools
    }
    return tiles, branches


# ---------------------------------------------------------------------------
# m01 — end-to-end funnel query (rows-only: tensors aren't SQL-expressible)
# ---------------------------------------------------------------------------

def m01_image_similarity_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full decode→tile→intensity→features→signature→LSH funnel; output =
    exact-match candidate pairs (identical signatures), i.e. the planted
    near-duplicate detector. Keeps only pairs agreeing on ≥ half the
    signature bands to mirror the reference's selectivity tuning
    (``a2_ahuja.py:133-139``)."""
    imgs = images_df(spark, sf_dir)
    # one fused Python stage, checkpointed: both sides of the band
    # self-join read the stored signatures instead of re-running the
    # funnel (round 2 computed the whole decode→signature chain once per
    # join side)
    sigs = fused_signatures(imgs).localCheckpoint(eager=False)
    bands = sigs.select(
        "tile_id", F.posexplode(_bands_col()).alias("band", "bucket")
    )
    a, b = bands.alias("a"), bands.alias("b")
    agree = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.tile_id") < F.col("b.tile_id")),
        )
        .groupBy(F.col("a.tile_id").alias("t1"), F.col("b.tile_id").alias("t2"))
        .agg(F.count(F.lit(1)).alias("n_bands"))
        .filter(F.col("n_bands") >= N_CHUNKS * 3 // 4)
    )
    return agree.orderBy("t1", "t2")


# ---------------------------------------------------------------------------
# m03 — real binaryFile source + reference-exact banding (I1/R9 + I10)
# ---------------------------------------------------------------------------

N_BINARY_FILES = 64


def _binary_fixture_dir() -> str:
    """64 ZIP containers — one '.tif' member each, located by suffix as
    the reference does (``a2_ahuja.py:13-24``) — written ONCE into a
    shared temp dir, atomically (no reader can see a partial fixture)."""
    import os
    import zipfile

    from big_data_analytics_cse545_spark.sources.fixtures import ensure_fixture_dir

    def write(tmp: str) -> None:
        for i in range(N_BINARY_FILES):
            with zipfile.ZipFile(os.path.join(tmp, f"img{i:05d}.zip"), "w") as zf:
                zf.writestr(f"img{i:05d}.tif", _tiff_image_bytes(i))

    return ensure_fixture_dir("spark_graft_binimgs_v3", write)


def m03_binaryfile_ref_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The a2 funnel from REAL files: 64 deterministic ZIP containers
    (each holding a '.tif' member, as the reference's dataset does)
    scanned with Spark's native ``binaryFile`` source (``sc.binaryFiles``
    parity, ``a2_ahuja.py:416``), img_id recovered from the file path
    (I2 ``getFileName``), then the FUSED decode→tile→intensity→gradient→
    signature kernel with the REFERENCE-EXACT banding: 128-chunk
    signature, 512 bits, 39 bands × 13 bits (``computeBuckets2``,
    ``a2_ahuja.py:140-149``). Output = candidate pairs. Fixture size is
    fixed (64 images / 256 tiles) regardless of sf — the source is the
    point here, scale comes from m01.

    Rows-only driver check (binary tensors aren't SQL-expressible);
    recall + selectivity are pinned in tests/test_multimodal.py.
    """
    d = _binary_fixture_dir()

    # coalesce: 64 tiny files over 32 scan partitions would still spawn
    # 32 cold Python workers for 64 rows; 8 partitions keep the fused
    # single-stage funnel parallel without the spawn cost dominating.
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.zip")
        .load(d)
        .coalesce(8)
    )
    imgs = raw.select(
        F.concat(
            F.lit("img"),
            F.regexp_extract(F.col("path"), r"img(\d+)\.zip$", 1).cast("long"),
        ).alias("img_id"),
        "content",
        F.lit(W).alias("width"),
        F.lit(H).alias("height"),
        F.lit(CHANNELS).alias("channels"),
    )
    # pool=1: 20×20 intensity grid → 2·20·19 = 760 feature dims → ~6
    # elements per 128-chunk. The reference's 4900-dim features give ~38
    # per chunk; at our tiny tile size the default 2×2 pooling leaves
    # only 1-2 elements per chunk, a degenerate md5 alphabet whose
    # signature bits collide in nearly every 13-bit band.
    sigs = fused_signatures(
        imgs,
        pool=1,
        n_chunks=REF_N_CHUNKS,
        idx=REF_SIG_IDX,
        width=1,
        ref_bands=True,
    ).localCheckpoint(eager=False)
    cand = ref_band_candidates(sigs)
    return cand.orderBy("t1", "t2")


# ---------------------------------------------------------------------------
# audio features (PCM-shaped payloads)
# ---------------------------------------------------------------------------

AUDIO_FRAME = 1024   # samples per analysis window
AUDIO_HOP = 512      # hop between windows


def audio_features(audios: DataFrame) -> DataFrame:
    """Windowed audio feature extraction over opaque PCM payloads:
    (audio_id, content binary int16-PCM, sample_rate, n_samples) →
    one row per analysis window with RMS energy and zero-crossing rate.

    Same multimodal contract as images/video: the 'decode' is an int16
    reinterpret (real codecs — mp3/flac — would slot into the same spot;
    not in this container), the windowing/feature math is numpy inside
    an Arrow batch, the fan-out is 1→⌈(n−frame)/hop⌉+1 rows. At scale
    each task holds one batch of clips — constant memory, linear CPU.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids, frames, rms_out, zcr_out = [], [], [], []
            for _, row in batch.iterrows():
                pcm = np.frombuffer(row["content"], dtype=np.int16)
                if pcm.size != row["n_samples"]:
                    raise ValueError("payload/metadata mismatch")
                x = pcm.astype(np.float64) / 32768.0
                n = 0
                for start in range(0, max(x.size - AUDIO_FRAME, 0) + 1, AUDIO_HOP):
                    w = x[start : start + AUDIO_FRAME]
                    ids.append(row["audio_id"])
                    frames.append(n)
                    rms_out.append(float(np.sqrt((w * w).mean())))
                    zcr_out.append(float((np.diff(np.sign(w)) != 0).mean()))
                    n += 1
            yield pd.DataFrame(
                {"audio_id": ids, "frame_no": frames, "rms": rms_out, "zcr": zcr_out}
            )

    return audios.mapInPandas(
        gen, schema="audio_id string, frame_no int, rms double, zcr double"
    )


def audios_df(spark: SparkSession, sf_dir: str, n_clips: int = 16) -> DataFrame:
    """Deterministic synthetic PCM source (sine + seeded noise per clip)
    with the engine's typed-metadata contract — test fixture standing in
    for a real audio file scan (binaryFile over .wav/.flac)."""
    n_samples = 8192
    rate = 16000
    # pin the range to ≤ n_clips partitions: the default (one per core —
    # 32 here) leaves half the tasks EMPTY for the 16-clip fixture, and
    # every empty mapInPandas task still checks out a Python worker —
    # pure spawn-storm surface under host load, the structural half of
    # m04's recurring bench spread (round-10 diagnosis, SCALE.md; the
    # other half is host contention, floored in test_perf_tripwire). At
    # scale n_clips ≫ cores and the pin is a no-op.
    n_parts = max(1, min(n_clips, spark.sparkContext.defaultParallelism))
    ids = spark.range(0, n_clips, numPartitions=n_parts).select(
        F.col("id").cast("long").alias("base_id")
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = []
            for base_id in batch["base_id"]:
                rng = np.random.default_rng(int(base_id) + 7_000_000)
                t = np.arange(n_samples) / rate
                wave = 0.5 * np.sin(2 * np.pi * (100 + 50 * int(base_id)) * t)
                wave += 0.05 * rng.standard_normal(n_samples)
                out.append((np.clip(wave, -1, 1) * 32767).astype(np.int16).tobytes())
            yield pd.DataFrame(
                {
                    "audio_id": "aud" + batch["base_id"].astype(str),
                    "content": out,
                    "sample_rate": rate,
                    "n_samples": n_samples,
                }
            )

    return ids.mapInPandas(
        gen,
        schema="audio_id string, content binary, sample_rate int, n_samples int",
    )


# ---------------------------------------------------------------------------
# frame sampling (video-shaped payloads)
# ---------------------------------------------------------------------------

def _avi_encode(frames: np.ndarray, fps: int = 10) -> bytes:
    """Minimal uncompressed AVI 1.0 writer — RIFF/'AVI ', one 'vids'
    stream of BI_RGB DIB frames (24-bpp BGR or 32-bpp BGRA, bottom-up
    rows, 4-byte row stride) — built from ``struct`` alone, the video
    twin of ``_tiff_encode``. Output is a real container that
    ffmpeg/PyAV demux directly."""
    import struct

    if frames.dtype != np.uint8 or frames.ndim != 4 or frames.shape[3] not in (3, 4):
        raise ValueError("writer takes (n, h, w, 3|4) uint8 frames")
    n, h, w, c = frames.shape
    # rcFrame packs as signed 16-bit ('<4h'); out-of-range dims would
    # otherwise surface as an opaque struct.error (round-5 ADVICE)
    if not (0 < w <= 0x7FFF and 0 < h <= 0x7FFF):
        raise ValueError(
            f"frame dims {w}x{h} outside AVI rcFrame's 16-bit range (1..32767)"
        )
    bpp = c * 8
    stride = (w * c + 3) // 4 * 4
    # RGB(A) top-down → BGR(A) bottom-up, rows padded to the DIB stride
    swapped = frames[:, ::-1, :, [2, 1, 0, 3][:c]] if c == 4 else frames[
        :, ::-1, :, ::-1
    ]
    row_pad = stride - w * c
    frame_bytes = []
    for f in range(n):
        rows = swapped[f].reshape(h, w * c)
        if row_pad:
            rows = np.concatenate(
                [rows, np.zeros((h, row_pad), dtype=np.uint8)], axis=1
            )
        frame_bytes.append(np.ascontiguousarray(rows).tobytes())
    frame_size = stride * h

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        return fourcc + struct.pack("<I", len(data)) + data + (
            b"\x00" if len(data) % 2 else b""
        )

    def lst(subtype: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", subtype + data)

    avih = struct.pack(
        "<14I",
        1_000_000 // fps, frame_size * fps, 0, 0,
        n, 0, 1, frame_size, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"DIB " + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, n, frame_size, 0, 0)
        + struct.pack("<4h", 0, 0, w, h)
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, 0, frame_size, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00db", fb) for fb in frame_bytes))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _avi_decode(raw: bytes) -> np.ndarray | None:
    """Struct-only demux of baseline uncompressed AVI (BI_RGB 24/32-bpp
    DIB frames) → (n, h, w, c) uint8 RGB(A) stack — the real demux path
    for this container, mirroring what PyAV does for production
    containers. Returns None for non-AVI payloads or beyond-baseline
    features (compressed streams, odd bit depths) so callers fall
    through to the raw-tensor fallback."""
    import struct

    if len(raw) < 12 or raw[:4] != b"RIFF" or raw[8:12] != b"AVI ":
        return None

    def chunks(buf: bytes, pos: int, end: int):
        while pos + 8 <= end:
            fourcc = buf[pos : pos + 4]
            (size,) = struct.unpack_from("<I", buf, pos + 4)
            yield fourcc, pos + 8, size
            pos += 8 + size + (size % 2)

    strf = None
    frames: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        nonlocal strf
        for fourcc, dpos, size in chunks(raw, pos, end):
            if fourcc == b"LIST":
                walk(dpos + 4, dpos + size)
            elif fourcc == b"strf" and strf is None:
                strf = raw[dpos : dpos + size]
            elif fourcc[2:4] in (b"db", b"dc") and fourcc[:2].isdigit():
                frames.append(raw[dpos : dpos + size])

    try:
        walk(12, 8 + struct.unpack_from("<I", raw, 4)[0])
        if strf is None or len(strf) < 40 or not frames:
            return None
        _, w, h, _, bpp, compression = struct.unpack_from("<IiiHHI", strf, 0)
        if compression != 0 or bpp not in (24, 32) or w <= 0 or h == 0:
            return None
        bottom_up, h = h > 0, abs(h)
        c = bpp // 8
        stride = (w * c + 3) // 4 * 4
        out = []
        for fb in frames:
            if len(fb) < stride * h:
                return None
            rows = np.frombuffer(fb[: stride * h], dtype=np.uint8).reshape(
                h, stride
            )[:, : w * c].reshape(h, w, c)
            if bottom_up:
                rows = rows[::-1]
            out.append(rows[:, :, [2, 1, 0, 3][:c]] if c == 4 else rows[:, :, ::-1])
        return np.ascontiguousarray(np.stack(out))
    except (struct.error, ValueError):
        return None


def _codec_demux(raw: bytes) -> np.ndarray | None:
    """Attempt a REAL container demux — PyAV (ffmpeg bindings) first,
    then imageio's ffmpeg plugin, then the struct-only baseline AVI
    demuxer above — the video twin of ``_codec_decode``, so a
    production container (mp4/mkv/webm) takes the full demuxer with
    zero code edits while THIS container still demuxes the real AVI
    fixtures instead of falling back to a reshape. Returns an
    (n_frames, H, W, C) uint8 stack, or None when the payload is not a
    parseable container at all (a raw tensor)."""
    import io

    try:
        import av  # type: ignore[import-not-found]
    except ImportError:
        av = None
    if av is not None:
        try:
            with av.open(io.BytesIO(raw)) as container:
                frames = [
                    f.to_ndarray(format="rgb24")
                    for f in container.decode(video=0)
                ]
            if frames:
                return np.stack(frames)
        except Exception:  # noqa: BLE001 — not an av-readable container
            pass
    try:
        import imageio.v3 as iio  # type: ignore[import-not-found]
    except ImportError:
        iio = None
    if iio is not None:
        try:
            arr = np.asarray(iio.imread(raw, index=None, plugin="pyav"))
            if arr.ndim == 4:
                return arr
        except Exception:  # noqa: BLE001 — not an imageio-readable container
            pass
    return _avi_decode(raw)


def demux_video(
    content: bytes, n_frames: int, width: int, height: int, channels: int
) -> np.ndarray:
    """Demux a video payload into an (n_frames, H, W, C) uint8 tensor
    via PyAV → imageio-ffmpeg → the built-in baseline AVI demuxer, with
    a raw-tensor reshape only for opaque non-container payloads. The
    engine's video fixtures are real uncompressed AVI containers, so
    the demux here is an actual container parse in every container —
    the exact mirror of ``decode_image``'s I3 TIFF story."""
    decoded = _codec_demux(content)
    if decoded is not None:
        arr = np.ascontiguousarray(decoded, dtype=np.uint8)
        if arr.size != n_frames * width * height * channels:
            raise ValueError(
                f"demuxed size {arr.size} != "
                f"{n_frames}x{height}x{width}x{channels}"
            )
        return arr.reshape(n_frames, height, width, channels)
    arr = np.frombuffer(content, dtype=np.uint8)
    if arr.size != n_frames * width * height * channels:
        raise ValueError("payload/metadata mismatch")
    return arr.reshape(n_frames, height, width, channels)


def frame_sample(videos: DataFrame, every_k: int = 4) -> DataFrame:
    """Sample every k-th frame from a video payload: 1→⌈n/k⌉ row
    fan-out with typed frame metadata. Each payload goes through
    ``demux_video`` — real codec attempt (PyAV/imageio-ffmpeg) with a
    raw-tensor fallback — so real containers demux for free while the
    codec-less test container exercises the fallback; partitioning,
    batch shape and fan-out are identical on both paths.

    Input schema: (video_id string, content binary, n_frames int,
    width int, height int, channels int).
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            vids, frames, payloads = [], [], []
            for _, row in batch.iterrows():
                vid = demux_video(
                    row["content"],
                    int(row["n_frames"]),
                    int(row["width"]),
                    int(row["height"]),
                    int(row["channels"]),
                )
                for f in range(0, int(row["n_frames"]), every_k):
                    vids.append(row["video_id"])
                    frames.append(f)
                    payloads.append(vid[f].tobytes())
            yield pd.DataFrame(
                {"video_id": vids, "frame_no": frames, "frame": payloads}
            )

    return videos.mapInPandas(
        gen, schema="video_id string, frame_no int, frame binary"
    )


M02_N_FRAMES = 8
M02_EVERY_K = 4
M02_ID_MOD = 50  # one synthetic video per 50 embeddings ids


def _m02_sampled_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared demux pipeline of m02 and m06: synthesize one
    {M02_N_FRAMES}-frame video per {M02_ID_MOD} embeddings ids as a REAL
    uncompressed AVI container (``_avi_encode``), then sample every
    {M02_EVERY_K}-th frame through ``demux_video``'s real parse chain
    (PyAV → imageio → built-in AVI). Returns the raw sampled-frame
    relation (video_id, frame_no, frame binary) both queries project."""
    ids = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % M02_ID_MOD == 0)
        .select(F.col("vec_id").cast("long").alias("base_id"))
    )
    n_frames = M02_N_FRAMES

    def make_videos(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = []
            for base_id in batch["base_id"]:
                rng = np.random.default_rng(int(base_id) + 5_000_000)
                vid = rng.integers(
                    0, 256, size=(n_frames, H, W, CHANNELS), dtype=np.uint8
                )
                out.append(_avi_encode(vid))
            yield pd.DataFrame(
                {
                    "video_id": "vid" + batch["base_id"].astype(str),
                    "content": out,
                    "n_frames": n_frames,
                    "width": W,
                    "height": H,
                    "channels": CHANNELS,
                }
            )

    videos = ids.mapInPandas(
        make_videos,
        schema="video_id string, content binary, n_frames int, width int, height int, channels int",
    )
    return frame_sample(videos, every_k=M02_EVERY_K)


_m02_sampled_frames.__doc__ = _m02_sampled_frames.__doc__.format(
    M02_N_FRAMES=M02_N_FRAMES, M02_ID_MOD=M02_ID_MOD, M02_EVERY_K=M02_EVERY_K
)


def m02_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize 8-frame videos (one per 50 embeddings ids), sample every
    4th frame, fingerprint each sampled frame — the video-modality
    plumbing demo (rows-only: the md5 is over rng-generated pixels no
    SQL engine can replay; m06 is the same pipeline's hash-checkable
    integer projection). Payloads are REAL uncompressed AVI containers
    (``_avi_encode``) demuxed by ``demux_video``'s real parse chain
    (PyAV → imageio → built-in AVI), so the same query runs unchanged
    on real mp4/mkv containers."""
    frames = _m02_sampled_frames(spark, sf_dir)
    return frames.select(
        "video_id", "frame_no", F.md5(F.col("frame")).alias("frame_md5")
    ).orderBy("video_id", "frame_no")


def m06_frame_index_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m02's deterministic integer core as a HASH-CHECKABLE relation
    (the m05↔m01 pattern, round-8 VERDICT task: every rows-only funnel
    gets a derived relation its DuckDB oracle can replay): run the REAL
    demux pipeline — AVI encode → container parse → every-k frame
    sampling — and project what pure integer arithmetic fully
    determines: which (video_id, frame_no) rows exist (the 1→⌈n/k⌉
    fan-out over ids with vec_id % {M} == 0) and each demuxed frame's
    exact byte size (H·W·C = {B}). A demuxer that dropped, duplicated,
    reordered or mis-sized a single frame changes the hash; only the
    pixel CONTENT (rng-generated, not SQL-replayable) stays m02's
    rows-only business.

    Scale shape: identical to m02 — the fan-out happens inside one
    mapInPandas (constant memory per task), and this projection never
    shuffles frame payloads at all (octet_length is computed where the
    frame is born).
    """
    frames = _m02_sampled_frames(spark, sf_dir)
    return frames.select(
        "video_id",
        "frame_no",
        F.octet_length("frame").alias("frame_bytes"),
    ).orderBy("video_id", "frame_no")


m06_frame_index_relational.__doc__ = m06_frame_index_relational.__doc__.format(
    M=M02_ID_MOD, B=H * W * CHANNELS
)


_M06_SQL = f"""
SELECT 'vid' || CAST(vec_id AS VARCHAR) AS video_id,
       CAST(t.frame_no AS INTEGER) AS frame_no,
       CAST({H * W * CHANNELS} AS INTEGER) AS frame_bytes
FROM embeddings
CROSS JOIN range(0, {M02_N_FRAMES}, {M02_EVERY_K}) t(frame_no)
WHERE vec_id % {M02_ID_MOD} = 0
ORDER BY video_id, frame_no
"""


def m04_audio_feature_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio modality end-to-end as a registry query: synthetic PCM
    clips (``audios_df`` — the typed-metadata stand-in for a binaryFile
    .wav scan) → windowed RMS/ZCR features (``audio_features``, Arrow-
    batched numpy) → per-clip profile (frame count, mean RMS, mean ZCR,
    rounded for determinism). Rows-only at the driver (binary payloads
    have no DuckDB twin); the feature math itself is golden-tested
    against straight numpy in tests/test_multimodal.py.

    Scale shape: 1→⌈(n−frame)/hop⌉+1 fan-out inside one mapInPandas
    (constant memory per task), then a per-clip partial+final agg on
    the clip key — no shuffle carries PCM bytes.
    """
    feats = audio_features(audios_df(spark, sf_dir))
    return (
        feats.groupBy("audio_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.round(F.avg("rms"), 6).alias("mean_rms"),
            F.round(F.avg("zcr"), 6).alias("mean_zcr"),
        )
        .orderBy("audio_id")
    )


# ---------------------------------------------------------------------------
# m05 — the funnel's relational tail over a MATERIALIZED signature
# relation, with a hard DuckDB oracle (VERDICT r4 task #4: everything
# downstream of the tensor kernels hash-checked, shrinking the permanent
# no_oracle set to the kernels themselves)
# ---------------------------------------------------------------------------

N_SIG_FIXTURE_IMAGES = 512  # 2048 tiles; fixed like m03 — scale comes from m01
MIN_AGREE_BANDS = N_CHUNKS * 3 // 4


def _signature_parquet_dir() -> str:
    """Per-tile signature relation (tile_id, signature) materialized to
    parquet ONCE — written by the SAME ``_tile_signature_rows`` kernel
    the Spark ``fused_signatures`` stage runs (decode included: pixels
    come from the real-TIFF payloads via ``decode_image``), so the
    relation both engines read is the funnel's actual output, not a
    parallel reimplementation."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_analytics_cse545_spark.sources.fixtures import ensure_fixture_dir

    def write(tmp: str) -> None:
        ids: list[str] = []
        sigs: list[str] = []
        for base_id in range(N_SIG_FIXTURE_IMAGES):
            img = decode_image(_tiff_image_bytes(base_id), W, H, CHANNELS)
            t_ids, t_sigs, _ = _tile_signature_rows(f"img{base_id}", img)
            ids += t_ids
            sigs += t_sigs
        pq.write_table(
            pa.table({"tile_id": ids, "signature": sigs}),
            os.path.join(tmp, "part-00000.parquet"),
        )

    return ensure_fixture_dir("spark_graft_m01_sigs_v1", write)


def m05_signature_band_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I10+I11 as a PURE relational query over the materialized per-tile
    signature parquet: band split (substring per position), posexplode,
    same-(position, bucket) self-equi-join, per-pair agreement count,
    selectivity threshold (≥ 3/4 of bands, m01's rule; tuning per
    ``a2_ahuja.py:133-139``). The scan is a real parquet file source and
    every operator downstream of the tensor kernels is hash-checked by
    the DuckDB oracle reading the SAME parquet. Fixture is fixed-size
    (512 images / 2048 tiles) like m03 — scale comes from m01, whose
    in-plan funnel shares the exact kernel that wrote this relation."""
    sigs = spark.read.parquet(_signature_parquet_dir())
    bands = sigs.select(
        "tile_id", F.posexplode(_bands_col()).alias("band", "bucket")
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.tile_id") < F.col("b.tile_id")),
        )
        .groupBy(F.col("a.tile_id").alias("t1"), F.col("b.tile_id").alias("t2"))
        .agg(F.count(F.lit(1)).alias("n_bands"))
        .filter(F.col("n_bands") >= MIN_AGREE_BANDS)
        .orderBy("t1", "t2")
    )


def _m05_oracle_sql() -> str:
    """DuckDB twin of m05 over the same parquet (written on first use —
    the t10 lazy-fixture pattern)."""
    d = _signature_parquet_dir()
    return f"""
        WITH bands AS (
            SELECT tile_id,
                   p.band,
                   substring(signature, p.band * {SIG_WIDTH} + 1, {SIG_WIDTH}) AS bucket
            FROM read_parquet('{d}/*.parquet')
            CROSS JOIN (SELECT unnest(range(0, {N_CHUNKS})) AS band) p
        )
        SELECT a.tile_id AS t1, b.tile_id AS t2, count(*) AS n_bands
        FROM bands a
        JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.tile_id < b.tile_id
        GROUP BY 1, 2
        HAVING count(*) >= {MIN_AGREE_BANDS}
        ORDER BY t1, t2
    """


QUERIES = {
    "m01_image_similarity_funnel": m01_image_similarity_funnel,
    "m02_video_frame_sample": m02_video_frame_sample,
    "m03_binaryfile_ref_funnel": m03_binaryfile_ref_funnel,
    "m04_audio_feature_profile": m04_audio_feature_profile,
    "m05_signature_band_relational": m05_signature_band_relational,
    "m06_frame_index_relational": m06_frame_index_relational,
}

# m01–m04: no SQL oracle — binary tensors + md5-of-int-list are not
# expressible in the DuckDB views; the driver records rows-only and
# invariants/goldens are pinned in tests/test_multimodal.py. m05 closes
# that gap for everything relational in the IMAGE funnel: its oracle
# reads the materialized signature parquet (lazy callable — written on
# first use). m06 does the same for the VIDEO funnel's integer core
# (frame-index fan-out + demuxed byte sizes).
ORACLE: dict = {
    "m05_signature_band_relational": _m05_oracle_sql,
    "m06_frame_index_relational": _M06_SQL,
}
