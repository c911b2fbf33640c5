"""Multimodal media columns: image/audio/video as opaque binary columns
with typed metadata, decoded and feature-extracted in Arrow-batched
mapInPandas stages.

Decoding is REAL for the self-contained uncompressed formats this
container can handle without external codec libraries:

  * image — binary PPM (P6, the Netpbm format) parsed with numpy,
    24-bit uncompressed BMP, and PNG (8-bit gray/RGB/±alpha, all five
    scanline filters) via stdlib zlib + numpy — no codec library;
  * audio — PCM WAV via the stdlib `wave` module + numpy;
  * video — a toy length-prefixed PPM-frame container ('PVID'), giving
    the frame-sampling path real frames to sample.

Codecs needing external libraries (JPEG/MP3/MP4/...) are STUBBED
honestly: they need libs this container doesn't ship, so `decode_media` raises
UnsupportedMediaError for them and the pipeline emits an
`unsupported:` status row instead of a feature — decode failures never
kill the job.  Swap `decode_media`'s dispatch for PIL/pyav on a
cluster with the libs installed; schemas, batch shapes, and the
feature contract stay identical.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib
from typing import Iterator, List, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, IntegerType, LongType,
    StringType, StructField, StructType,
)

from blueprint_oss_spark.ops.common import words

MEDIA_SCHEMA = StructType([
    StructField('media_ref', StringType()),
    StructField('kind', StringType()),        # image | audio | video
    StructField('payload', BinaryType()),     # opaque encoded bytes
    StructField('width', IntegerType()),
    StructField('height', IntegerType()),
    StructField('duration_ms', IntegerType()),
])

FEATURE_SCHEMA = StructType([
    StructField('media_ref', StringType()),
    StructField('kind', StringType()),
    StructField('feature', ArrayType(DoubleType())),  # fixed-dim feature
    StructField('decode_status', StringType()),
])

FEATURE_DIM = 16

#: The media sentinel of rendered interleaved text: a reserved atomic
#: token for every tokenizer trained on the rendering.
MEDIA_TOKEN = '<|image|>'


class UnsupportedMediaError(NotImplementedError):
  """Raised for formats needing codec libs absent from this container."""


# ---------------------------------------------------------------------------
# Decoders (pure python/numpy — no codec libraries).
# ---------------------------------------------------------------------------

def decode_ppm(payload: bytes) -> np.ndarray:
  """Binary PPM (P6) → HxWx3 uint8 array."""
  if not payload.startswith(b'P6'):
    raise ValueError('not a P6 PPM')
  # header: magic, width, height, maxval — whitespace/comment separated
  fields: List[bytes] = []
  i = 2
  while len(fields) < 3:
    while i < len(payload) and payload[i:i + 1].isspace():
      i += 1
    if payload[i:i + 1] == b'#':
      while i < len(payload) and payload[i] != 0x0A:
        i += 1
      continue
    j = i
    while j < len(payload) and not payload[j:j + 1].isspace():
      j += 1
    fields.append(payload[i:j])
    i = j
  i += 1  # single whitespace after maxval
  w, h, maxval = (int(x) for x in fields)
  if maxval > 255:
    raise ValueError('16-bit PPM not supported')
  n = w * h * 3
  arr = np.frombuffer(payload, dtype=np.uint8, count=n, offset=i)
  return arr.reshape(h, w, 3)


def decode_bmp(payload: bytes) -> np.ndarray:
  """Uncompressed 24-bit BMP → HxWx3 uint8 array (RGB)."""
  if not payload.startswith(b'BM'):
    raise ValueError('not a BMP')
  data_off = struct.unpack_from('<I', payload, 10)[0]
  w, h = struct.unpack_from('<ii', payload, 18)
  bpp = struct.unpack_from('<H', payload, 28)[0]
  comp = struct.unpack_from('<I', payload, 30)[0]
  if bpp != 24 or comp != 0:
    raise UnsupportedMediaError(f'BMP bpp={bpp} compression={comp}')
  row_bytes = (w * 3 + 3) & ~3
  rows = []
  for r in range(abs(h)):
    off = data_off + r * row_bytes
    row = np.frombuffer(payload, np.uint8, w * 3, off).reshape(w, 3)
    rows.append(row[:, ::-1])  # BGR → RGB
  img = np.stack(rows)
  if h > 0:
    img = img[::-1]  # bottom-up storage
  return img


_PNG_SIG = b'\x89PNG\r\n\x1a\n'
# channels per PNG color type (3 = palette, unsupported)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_chunks(payload: bytes) -> Iterator[Tuple[bytes, bytes]]:
  i = len(_PNG_SIG)
  while i + 12 <= len(payload):
    (length,) = struct.unpack_from('>I', payload, i)
    ctype = payload[i + 4:i + 8]
    data = payload[i + 8:i + 8 + length]
    if len(data) < length or i + 12 + length > len(payload):
      raise ValueError('truncated PNG chunk')
    (crc,) = struct.unpack_from('>I', payload, i + 8 + length)
    if crc != zlib.crc32(ctype + data):
      raise ValueError(f'PNG chunk {ctype!r} CRC mismatch')
    yield ctype, data
    i += 12 + length


def decode_png(payload: bytes) -> np.ndarray:
  """PNG (8-bit gray/RGB/gray+alpha/RGBA, non-interlaced) → HxWx3 uint8
  RGB, with stdlib zlib + numpy only — no codec library.  All five
  scanline filters (None/Sub/Up/Average/Paeth) per the public PNG spec;
  Sub is a per-lane running sum so it vectorizes as a cumsum mod 256,
  Average/Paeth keep their sequential per-byte recurrences.  Palette,
  16-bit, and Adam7-interlaced images raise UnsupportedMediaError."""
  if not payload.startswith(_PNG_SIG):
    raise ValueError('not a PNG')
  ihdr = None
  idat: List[bytes] = []
  for ctype, data in _png_chunks(payload):
    if ctype == b'IHDR':
      ihdr = data
    elif ctype == b'IDAT':
      idat.append(data)
    elif ctype == b'IEND':
      break
  if ihdr is None or len(ihdr) < 13 or not idat:
    raise ValueError('PNG missing IHDR/IDAT')
  w, h, depth, color_type, comp, filt, interlace = \
      struct.unpack_from('>IIBBBBB', ihdr)
  if comp != 0 or filt != 0:
    raise ValueError('bad IHDR compression/filter method')
  if depth != 8:
    raise UnsupportedMediaError(f'PNG bit depth {depth}')
  if interlace:
    raise UnsupportedMediaError('Adam7-interlaced PNG')
  channels = _PNG_CHANNELS.get(color_type)
  if channels is None:
    raise UnsupportedMediaError(f'PNG color type {color_type}')
  if w == 0 or h == 0:
    raise ValueError('empty PNG')
  raw = zlib.decompress(b''.join(idat))
  stride = w * channels
  if len(raw) != h * (stride + 1):
    raise ValueError('PNG scanline data length mismatch')
  lines = np.frombuffer(raw, np.uint8).reshape(h, stride + 1)
  filters, data_rows = lines[:, 0], lines[:, 1:].astype(np.int32)
  recon = np.zeros((h, stride), np.int32)
  bpp = channels
  for r in range(h):
    f, row = int(filters[r]), data_rows[r]
    prev = recon[r - 1] if r else np.zeros(stride, np.int32)
    if f == 0:
      cur = row
    elif f == 1:   # Sub: recon[x] = raw[x] + recon[x-bpp]
      cur = np.cumsum(row.reshape(w, bpp), axis=0).reshape(stride) % 256
    elif f == 2:   # Up
      cur = (row + prev) % 256
    elif f == 3:   # Average
      cur = np.empty(stride, np.int32)
      for x in range(stride):
        a = cur[x - bpp] if x >= bpp else 0
        cur[x] = (row[x] + (a + prev[x]) // 2) % 256
    elif f == 4:   # Paeth
      cur = np.empty(stride, np.int32)
      for x in range(stride):
        a = cur[x - bpp] if x >= bpp else 0
        b = prev[x]
        c = prev[x - bpp] if x >= bpp else 0
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
        cur[x] = (row[x] + pred) % 256
    else:
      raise ValueError(f'PNG filter type {f}')
    recon[r] = cur
  img = recon.astype(np.uint8).reshape(h, w, channels)
  if channels == 1:
    return np.repeat(img, 3, axis=2)
  if channels == 2:   # gray+alpha: replicate gray, drop alpha
    return np.repeat(img[:, :, :1], 3, axis=2)
  return img[:, :, :3]  # RGB, or RGBA with alpha dropped


def _png_filter_row(f: int, row: np.ndarray, prev: np.ndarray,
                    bpp: int) -> np.ndarray:
  """Forward-apply PNG filter f to a reconstructed scanline (encoder
  side; exact inverse of the decoder's recurrences)."""
  stride = len(row)
  out = np.empty(stride, np.int32)
  for x in range(stride):
    a = row[x - bpp] if x >= bpp else 0
    b = prev[x]
    c = prev[x - bpp] if x >= bpp else 0
    if f == 0:
      pred = 0
    elif f == 1:
      pred = a
    elif f == 2:
      pred = b
    elif f == 3:
      pred = (a + b) // 2
    elif f == 4:
      p = a + b - c
      pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
      pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
    else:
      raise ValueError(f'PNG filter type {f}')
    out[x] = (row[x] - pred) % 256
  return out


def encode_png(img: np.ndarray, *, filters: object = 0) -> bytes:
  """HxWxC uint8 (C in 1/2/3/4) → PNG bytes.  `filters` is a single
  filter type applied to every scanline, or 'mixed' to cycle through
  all five (row r uses r % 5) so decoders get full filter coverage."""
  if img.ndim == 2:
    img = img[:, :, None]
  h, w, channels = img.shape
  color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
  rows = img.reshape(h, w * channels).astype(np.int32)
  prev = np.zeros(w * channels, np.int32)
  scan = bytearray()
  for r in range(h):
    f = (r % 5) if filters == 'mixed' else int(filters)  # type: ignore
    scan.append(f)
    scan += _png_filter_row(f, rows[r], prev, channels) \
        .astype(np.uint8).tobytes()
    prev = rows[r]

  def chunk(ctype: bytes, data: bytes) -> bytes:
    return (struct.pack('>I', len(data)) + ctype + data
            + struct.pack('>I', zlib.crc32(ctype + data)))

  ihdr = struct.pack('>IIBBBBB', w, h, 8, color_type, 0, 0, 0)
  return (_PNG_SIG + chunk(b'IHDR', ihdr)
          + chunk(b'IDAT', zlib.compress(bytes(scan), 6))
          + chunk(b'IEND', b''))


def decode_wav(payload: bytes) -> Tuple[np.ndarray, int]:
  """PCM WAV → (float samples in [-1, 1] of channel 0, sample rate)."""
  with wave.open(io.BytesIO(payload)) as wf:
    rate = wf.getframerate()
    nch = wf.getnchannels()
    width = wf.getsampwidth()
    raw = wf.readframes(wf.getnframes())
  if width == 2:
    x = np.frombuffer(raw, np.int16).astype(np.float64) / 32768.0
  elif width == 1:
    x = (np.frombuffer(raw, np.uint8).astype(np.float64) - 128.0) / 128.0
  else:
    raise UnsupportedMediaError(f'WAV sample width {width}')
  return x[::nch], rate


def split_video_frames(payload: bytes) -> List[bytes]:
  """Toy video container: b'PVID' + u32 frame count + length-prefixed
  PPM frames.  Real codecs (h264/vp9/...) raise UnsupportedMediaError."""
  if not payload.startswith(b'PVID'):
    raise UnsupportedMediaError('only the PVID toy container decodes '
                                'without codec libs')
  (n,) = struct.unpack_from('<I', payload, 4)
  frames = []
  off = 8
  for _ in range(n):
    (ln,) = struct.unpack_from('<I', payload, off)
    off += 4
    frames.append(payload[off:off + ln])
    off += ln
  return frames


def resize_image(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
  """Nearest-neighbour resize via index maps (pure numpy) — the
  resize step of the image feature path."""
  h, w = img.shape[:2]
  ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
  xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
  return img[ys][:, xs]


def image_features(img: np.ndarray) -> List[float]:
  """16-dim image feature: [w/1024, h/1024, meanRGB(3), stdRGB(3),
  8-bin gray histogram of the 8x8 resize] — all in [0, 1]-ish range."""
  h, w = img.shape[:2]
  x = img.astype(np.float64) / 255.0
  mean = x.mean(axis=(0, 1))
  std = x.std(axis=(0, 1))
  gray = resize_image(img, 8, 8).astype(np.float64).mean(axis=2) / 255.0
  hist, _ = np.histogram(gray, bins=8, range=(0.0, 1.0))
  hist = hist / gray.size
  return ([w / 1024.0, h / 1024.0] + mean.tolist() + std.tolist()
          + hist.tolist())


def audio_features(x: np.ndarray, rate: int) -> List[float]:
  """16-dim audio feature: [dur_s/60, rate/48k, rms, zero-crossing
  rate, 12-bin |amplitude| histogram]."""
  dur = len(x) / rate if rate else 0.0
  rms = float(np.sqrt(np.mean(x * x))) if len(x) else 0.0
  zcr = float(np.mean(np.abs(np.diff(np.signbit(x).astype(np.int8))))) \
      if len(x) > 1 else 0.0
  hist, _ = np.histogram(np.abs(x), bins=12, range=(0.0, 1.0))
  hist = hist / max(1, len(x))
  return [dur / 60.0, rate / 48000.0, rms, zcr] + hist.tolist()


def video_features(payload: bytes) -> List[float]:
  """Frame-sample up to 4 frames evenly, mean of per-frame image
  features."""
  frames = split_video_frames(payload)
  if not frames:
    return [0.0] * FEATURE_DIM
  idx = np.unique(np.linspace(0, len(frames) - 1, 4)
                  .astype(int))
  feats = np.array([image_features(decode_ppm(frames[i])) for i in idx])
  return feats.mean(axis=0).tolist()


def _pack_bits64(bits) -> int:
  """64 bools (bit i = element i) → signed int64 (bit 63 is the sign
  bit, same packing as ops/textops.simhash64)."""
  v = 0
  for i, b in enumerate(bits):
    if b:
      v |= (1 << i)
  if v >= (1 << 63):
    v -= (1 << 64)
  return v


def ahash64(img: np.ndarray) -> int:
  """Average-hash: 8×8 nearest resize → per-cell gray vs global mean.

  All comparisons are EXACT integer arithmetic (cell gray kept as the
  r+g+b sum, `64·s_i > Σs` instead of float means), so an independent
  pure-python recomputation matches bit-for-bit — no ulp-boundary bit
  flips (that exactness is what the oracle verifier leans on)."""
  g3 = resize_image(img, 8, 8).astype(np.int64).sum(axis=2)  # 3×gray
  total = int(g3.sum())
  bits = (64 * g3.flatten() > total)
  return _pack_bits64(bits.tolist())


def dhash64(img: np.ndarray) -> int:
  """Difference-hash: 8×9 nearest resize, bit = gray[r,c+1] > gray[r,c]
  (integer 3×gray values — exact)."""
  g3 = resize_image(img, 8, 9).astype(np.int64).sum(axis=2)
  bits = (g3[:, 1:] > g3[:, :-1]).flatten()
  return _pack_bits64(bits.tolist())


def audiohash64(payload: bytes) -> int:
  """64-bit audio energy signature: |PCM| sums over 64 equal-count
  chunks, bit i = chunk i's mean |amplitude| above the global mean —
  compared as exact integers (`sum_i · N > total · n_i`)."""
  with wave.open(io.BytesIO(payload)) as wf:
    nch = wf.getnchannels()
    width = wf.getsampwidth()
    raw = wf.readframes(wf.getnframes())
  if width == 2:
    x = np.abs(np.frombuffer(raw, np.int16).astype(np.int64))[::nch]
  elif width == 1:
    x = np.abs(np.frombuffer(raw, np.uint8).astype(np.int64) - 128)[::nch]
  else:
    raise UnsupportedMediaError(f'WAV sample width {width}')
  n = len(x)
  if n == 0:
    return 0
  edges = [(k * n) // 64 for k in range(65)]
  sums = [int(x[edges[k]:edges[k + 1]].sum()) for k in range(64)]
  counts = [edges[k + 1] - edges[k] for k in range(64)]
  total = int(x.sum())
  bits = [sums[k] * n > total * counts[k] if counts[k] else False
          for k in range(64)]
  return _pack_bits64(bits)


def perceptual_hashes(kind: str, payload: bytes) -> Tuple[int, int]:
  """(ahash, dhash) for images and video (first frame); for audio both
  slots carry the energy signature.  Raises UnsupportedMediaError for
  compressed codecs, like decode_media."""
  if kind == 'image':
    if payload.startswith(b'P6'):
      img = decode_ppm(payload)
    elif payload.startswith(b'BM'):
      img = decode_bmp(payload)
    elif payload.startswith(_PNG_SIG):
      img = decode_png(payload)
    else:
      raise UnsupportedMediaError('image codecs beyond PPM/BMP/PNG '
                                  'need PIL')
    return ahash64(img), dhash64(img)
  if kind == 'audio':
    if not payload.startswith(b'RIFF'):
      raise UnsupportedMediaError('compressed audio codecs need ffmpeg')
    h = audiohash64(payload)
    return h, h
  if kind == 'video':
    frames = split_video_frames(payload)
    if not frames:
      return 0, 0
    img = decode_ppm(frames[0])
    return ahash64(img), dhash64(img)
  raise UnsupportedMediaError(f'unknown media kind {kind!r}')


PHASH_SCHEMA = StructType([
    StructField('media_ref', StringType()),
    StructField('kind', StringType()),
    StructField('ahash', LongType()),
    StructField('dhash', LongType()),
    StructField('decode_status', StringType()),
])


def extract_media_phash(media: DataFrame) -> DataFrame:
  """Arrow-batched perceptual hashing over binary media columns — the
  dedup companion to extract_media_features (same honest-stub contract
  for compressed codecs)."""
  def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
      ah, dh, status = [], [], []
      for kind, payload in zip(pdf['kind'], pdf['payload']):
        try:
          a, d = perceptual_hashes(kind, bytes(payload))
          ah.append(a)
          dh.append(d)
          status.append('ok')
        except UnsupportedMediaError as e:
          ah.append(0)
          dh.append(0)
          status.append(f'unsupported: {e}')
        except Exception as e:
          ah.append(0)
          dh.append(0)
          status.append(f'error: {e}')
      yield pd.DataFrame({'media_ref': pdf['media_ref'],
                          'kind': pdf['kind'], 'ahash': ah, 'dhash': dh,
                          'decode_status': status})

  return media.mapInPandas(run, PHASH_SCHEMA)


def media_near_dup_pairs(phash: DataFrame, *,
                         max_hamming: int = 6) -> DataFrame:
  """Near-dup media pairs by aHash hamming distance, banded like
  simhash blocking (Manku et al.): the 64-bit hash splits into
  `max_hamming + 1` bands, so by pigeonhole ANY pair within
  `max_hamming` differing bits leaves at least one band untouched and
  collides there — recall 1 is guaranteed, not best-effort (with a
  fixed band count k, only hamming ≤ k-1 is guaranteed; deriving the
  count from the threshold keeps the invariant for every caller).
  Candidates then pass the exact JVM-side `bit_count(xor)` filter.
  One shuffle (the band groupBy-join); never the O(n²) cross product.
  More bands = narrower bands = more candidate collisions, so a large
  max_hamming trades shuffle volume for recall — the same dial as the
  sibling simhash_near_dup_pairs (textops).

  max_hamming must be in [0, 63]: at >= 64 every 64-bit pair qualifies
  trivially and banding degenerates to a zero-width-mask cross join, so
  that is rejected rather than silently exploding."""
  if not 0 <= max_hamming < 64:
    raise ValueError(f'max_hamming must be in [0, 63], got {max_hamming}'
                     ' (>= 64 matches every pair — banding degenerates'
                     ' to a full cross join)')
  n_bands = max_hamming + 1
  base_w, rem = divmod(64, n_bands)
  bands, offset = [], 0
  widths = [base_w + 1 if b < rem else base_w for b in range(n_bands)]
  for b, w in enumerate(widths):
    bands.append(
        F.shiftrightunsigned(F.col('ahash'), offset)
        .bitwiseAND(F.lit((1 << w) - 1)).alias(f'band{b}'))
    offset += w
  banded = phash.where(F.col('decode_status') == 'ok') \
      .select('media_ref', 'kind', 'ahash', *bands)
  stacked = banded.select(
      'media_ref', 'kind', 'ahash',
      F.explode(F.array(*[
          F.struct(F.lit(b).alias('b'), F.col(f'band{b}').alias('v'))
          for b in range(n_bands)])).alias('bv'))
  a = stacked.alias('a')
  b = stacked.alias('b')
  pairs = (a.join(b, (F.col('a.bv') == F.col('b.bv'))
                  & (F.col('a.media_ref') < F.col('b.media_ref')))
           .select(F.col('a.media_ref').alias('ref_a'),
                   F.col('b.media_ref').alias('ref_b'),
                   F.bit_count(F.col('a.ahash')
                               .bitwiseXOR(F.col('b.ahash')))
                   .alias('hamming'))
           .where(F.col('hamming') <= max_hamming)
           .distinct())
  return pairs.orderBy('ref_a', 'ref_b')


def decode_media(kind: str, payload: bytes) -> List[float]:
  """kind + payload → FEATURE_DIM floats; raises UnsupportedMediaError
  for formats needing absent codec libraries."""
  if kind == 'image':
    if payload.startswith(b'P6'):
      return image_features(decode_ppm(payload))
    if payload.startswith(b'BM'):
      return image_features(decode_bmp(payload))
    if payload.startswith(_PNG_SIG):
      return image_features(decode_png(payload))
    raise UnsupportedMediaError(
        'image codecs beyond PPM/BMP/PNG (JPEG/WebP/...) need PIL — '
        'not in this container')
  if kind == 'audio':
    if payload.startswith(b'RIFF'):
      return audio_features(*decode_wav(payload))
    raise UnsupportedMediaError(
        'compressed audio codecs (mp3/ogg/...) need soundfile/ffmpeg')
  if kind == 'video':
    return video_features(payload)
  raise UnsupportedMediaError(f'unknown media kind {kind!r}')


# ---------------------------------------------------------------------------
# Deterministic synthetic media (real encoded payloads).
# ---------------------------------------------------------------------------

def _make_img(i: int) -> Tuple[np.ndarray, int, int]:
  rng = np.random.default_rng(1000 + i)
  w, h = 16 + i % 17, 12 + i % 13
  if i % 5 == 0:
    img = np.full((h, w, 3), (i * 37) % 256, dtype=np.uint8)  # constant
  else:
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
  return img, w, h


def _make_ppm(i: int) -> Tuple[bytes, int, int]:
  img, w, h = _make_img(i)
  return (f'P6\n{w} {h}\n255\n'.encode() + img.tobytes(), w, h)


def _make_wav(i: int) -> Tuple[bytes, int]:
  rate = 8000
  dur_ms = 100 + 10 * (i % 20)
  t = np.arange(int(rate * dur_ms / 1000)) / rate
  freq = 110.0 * (1 + i % 8)
  amp = 0.1 + 0.05 * (i % 10)
  x = (np.sin(2 * np.pi * freq * t) * amp * 32767).astype(np.int16)
  buf = io.BytesIO()
  with wave.open(buf, 'wb') as wf:
    wf.setnchannels(1)
    wf.setsampwidth(2)
    wf.setframerate(rate)
    wf.writeframes(x.tobytes())
  return buf.getvalue(), dur_ms


def _make_pvid(i: int) -> Tuple[bytes, int, int, int]:
  n_frames = 2 + i % 4
  frames = [_make_ppm(i * 100 + k)[0] for k in range(n_frames)]
  w, h = _make_ppm(i * 100)[1:]
  blob = b'PVID' + struct.pack('<I', n_frames)
  for fr in frames:
    blob += struct.pack('<I', len(fr)) + fr
  return blob, w, h, n_frames * 40  # 25 fps → 40 ms/frame


def synthesize_media_table(spark: SparkSession, n: int = 64) -> DataFrame:
  """Deterministic REAL media rows — alternating PPM and PNG (mixed
  scanline filters) images, PCM WAVs, PVID frame containers — plus an
  intentionally-unsupported compressed payload every 8th row, so the
  honest-stub path is exercised end-to-end."""
  rows = []
  for i in range(n):
    kind = ('image', 'audio', 'video')[i % 3]
    if i % 8 == 7:
      # compressed formats this container cannot decode
      payload = {
          'image': b'\xff\xd8\xff\xe0\x00\x10JFIF' + hashlib.sha256(
              f'jpeg-{i}'.encode()).digest(),
          'audio': b'ID3\x04' + hashlib.sha256(
              f'mp3-{i}'.encode()).digest(),
          'video': b'\x00\x00\x00\x18ftypmp42' + hashlib.sha256(
              f'mp4-{i}'.encode()).digest(),
      }[kind]
      w = h = 0
      dur = 0
    elif kind == 'image' and (i // 3) % 2 == 1:
      # same pixels as the PPM branch would carry, PNG-encoded with
      # the filter type cycling per scanline — the production decode
      # path exercises Sub/Up/Average/Paeth, not just filter 0
      img, w, h = _make_img(i)
      payload = encode_png(img, filters='mixed')
      dur = 0
    elif kind == 'image':
      payload, w, h = _make_ppm(i)
      dur = 0
    elif kind == 'audio':
      payload, dur = _make_wav(i)
      w = h = 0
    else:
      payload, w, h, dur = _make_pvid(i)
    rows.append((f'm/{i}', kind, bytearray(payload), w, h, dur))
  return spark.createDataFrame(rows, MEDIA_SCHEMA)


def extract_media_features(media: DataFrame) -> DataFrame:
  """Arrow-batched feature extraction over binary media columns.

  mapInPandas keeps payload bytes inside Arrow buffers (no per-row
  Python boxing until the decode call, which is unavoidable for codec
  work).  Partitioning: media tables should be stored bucketed by
  media_ref so feature joins back to the span table are shuffle-free.
  """
  def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
      feats = []
      status = []
      for kind, payload in zip(pdf['kind'], pdf['payload']):
        try:
          feats.append(decode_media(kind, bytes(payload)))
          status.append('ok')
        except UnsupportedMediaError as e:
          feats.append([0.0] * FEATURE_DIM)
          status.append(f'unsupported: {e}')
        except Exception as e:  # decode failures must not kill the job
          feats.append([0.0] * FEATURE_DIM)
          status.append(f'error: {e}')
      yield pd.DataFrame({
          'media_ref': pdf['media_ref'],
          'kind': pdf['kind'],
          'feature': feats,
          'decode_status': status,
      })

  return media.mapInPandas(run, FEATURE_SCHEMA)


def interleaved_near_dup(spark: SparkSession, sf_dir: str, *,
                         min_shared_media: int = 1,
                         max_media_df: int = 0,
                         spans: DataFrame = None) -> DataFrame:
  """Cross-modal near-duplicate verdicts over INTERLEAVED documents —
  the dedup shape unique to the text+media corpus the north rule
  processes: two docs are near-dups on TEXT evidence (exact 3-gram
  Jaccard ≥ 0.8 over the concatenated main-content text spans, the
  `ngram_jaccard_pairs` defaults through its docs= seam) and/or
  on MEDIA evidence (≥ min_shared_media common media_refs — the
  shared-asset signal: the same image URL embedded by two pages is
  how crawl-scale media dedup actually triggers, no pixel decode
  needed).  A syndication copy that swaps the hero image is caught by
  text; a photo gallery with rewritten captions is caught by media;
  a mirror is caught by both — the per-pair booleans keep the
  evidence auditable instead of collapsing it into one verdict.

  Scale shape: the text side inherits ngram_jaccard_pairs' inverted-
  index join and its hot-shingle df cap; the media side is the same
  inverted-index on media_ref with its own `max_media_df` cap (a
  site-wide logo shared by millions of pages is the classic quadratic
  hub — capped refs are dropped from the JOIN side only, a documented
  recall-trading knob, zero silent truncation at the default 0); the
  final merge is a pair-keyed full outer join of two already-
  pair-grained frames.  Per-doc text assembly is one groupBy with an
  array_sort on (order, text) structs — span order is restored
  deterministically without a window.

  `spans=` accepts any (doc_id, out_spans) frame with the
  OUT_SPAN_STRUCT element type; default is the full north-rule
  pipeline (synthesis → main-content strip).

  Returns (doc_a, doc_b, text_dup, media_dup, n_common, n_a, n_b,
  shared_media) pair-sorted; n_* are NULL on media-only pairs.
  """
  if spans is None:
    from .html_extract import (interleaved_html_table,
                               main_content_from_spans)
    spans = main_content_from_spans(
        interleaved_html_table(spark, sf_dir))
  from .textops import ngram_jaccard_pairs

  ex = spans.select('doc_id', F.explode('out_spans').alias('s'))
  txt = (ex.where(F.col('s.kind') == 'text')
         .groupBy('doc_id')
         .agg(F.concat_ws(' ', F.transform(
             F.array_sort(F.collect_list(
                 F.struct('s.order', 's.text'))),
             lambda st: st['text'])).alias('text')))
  tp = (ngram_jaccard_pairs(txt)
        .withColumn('text_dup', F.lit(1)))

  med = (ex.where(F.col('s.kind') == 'media')
         .select('doc_id', F.col('s.media_ref').alias('media_ref'))
         .distinct())
  join_side = med
  if max_media_df > 0:
    hot = (med.groupBy('media_ref')
           .agg(F.count(F.lit(1)).alias('df'))
           .where(F.col('df') > max_media_df)
           .select('media_ref'))
    join_side = med.join(hot, 'media_ref', 'left_anti')
  a = join_side.alias('a')
  b = join_side.alias('b')
  mp = (a.join(b, (F.col('a.media_ref') == F.col('b.media_ref'))
               & (F.col('a.doc_id') < F.col('b.doc_id')))
        .groupBy(F.col('a.doc_id').alias('doc_a'),
                 F.col('b.doc_id').alias('doc_b'))
        .agg(F.count(F.lit(1)).alias('shared_media'))
        .where(F.col('shared_media') >= min_shared_media)
        .withColumn('media_dup', F.lit(1)))

  return (tp.join(mp, ['doc_a', 'doc_b'], 'full_outer')
          .select('doc_a', 'doc_b',
                  F.coalesce('text_dup', F.lit(0)).alias('text_dup'),
                  F.coalesce('media_dup', F.lit(0)).alias('media_dup'),
                  'n_common', 'n_a', 'n_b',
                  F.coalesce('shared_media', F.lit(0))
                  .alias('shared_media'))
          .orderBy('doc_a', 'doc_b'))


def caption_pairs(content: DataFrame, *,
                  max_caption_tokens: int = 32) -> DataFrame:
  """Media↔text training-pair mining over the north-rule main-content
  output — the interleaved-document complement of alt-text caption
  scraping: for every media span, the nearest non-empty text span
  BEFORE it and the nearest AFTER it, truncated to the closest
  `max_caption_tokens` whitespace tokens (the last K of the preceding
  text, the first K of the following text).  This is the pair
  extraction step interleaved image-text corpora are built from
  (M3W in Alayrac et al. 2022 "Flamingo", arXiv:2204.14198; MMC4 in
  Zhu et al. 2023, arXiv:2304.06939): surrounding prose is the weak
  caption supervision for contrastive/captioning training.

  Semantics:
    * input is any (doc_id, out_spans:array<struct<kind,text,
      media_ref,order>>) frame — by construction the output of
      main_content_from_spans; spans are re-sorted by `order` so the
      operator is safe on any span permutation;
    * "text span" means kind='text' with non-empty trimmed text —
      empty spans (e.g. the documented failed-PDF degradation) are
      never captions;
    * consecutive media spans share neighbors (each pairs with the
      same before/after text), a media span at the head/tail of the
      doc gets NULL on the missing side — rows are kept so the miss
      rate is auditable (filter downstream);
    * caption token counts ride along (n_before/after_tokens, NULL
      with the caption).

  Scale shape: Scan → Project (higher-order functions over the span
  array) → Generate (posexplode of the per-doc media list) → Project
  — ZERO shuffles, zero Python, embarrassingly parallel over doc_id
  like the main-content stage itself (plan pinned by test).  The
  sorted span array and the filtered text-span array are staged as
  their own projected columns: interpreted higher-order lambdas get
  no common-subexpression elimination (the _bloom_flat_positions
  lesson), and CollapseProject will not duplicate a multi-consumer
  non-cheap alias, so array_sort/filter run once per row.  Per-row
  work is O(spans · media) on in-memory arrays — bounded by document
  size, never by corpus size; at 10^12 docs the only lever is
  executor count.
  """
  if max_caption_tokens < 1:
    raise ValueError('max_caption_tokens must be >= 1')
  k = int(max_caption_tokens)

  staged = (content
            .select('doc_id',
                    F.expr('array_sort(out_spans, '
                           '(a, b) -> a.order - b.order)')
                    .alias('_spans'))
            .select('doc_id', '_spans',
                    F.expr("filter(_spans, t -> t.kind = 'text' "
                           'AND t.text IS NOT NULL '
                           "AND length(trim(t.text)) > 0)")
                    .alias('_texts')))
  pairs = staged.select(
      'doc_id',
      F.expr("""
        transform(
          filter(_spans, s -> s.kind = 'media'),
          m -> struct(
            m.media_ref AS media_ref,
            m.order AS media_order,
            try_element_at(filter(_texts, t -> t.order < m.order), -1)
              AS b,
            try_element_at(filter(_texts, t -> t.order > m.order), 1)
              AS a))
      """).alias('_pairs'))
  # caption windows count raw \s+ slots of the trimmed text (NULL
  # text -> NULL caption), not `normalized_words`
  ex = (pairs
        .select('doc_id', F.explode('_pairs').alias('p'))
        .select('doc_id',
                F.col('p.media_ref').alias('media_ref'),
                F.col('p.media_order').alias('media_order'),
                F.col('p.b.order').alias('before_order'),
                F.col('p.a.order').alias('after_order'),
                F.split(F.trim(F.col('p.b.text')), r'\s+').alias('_bt'),
                F.split(F.trim(F.col('p.a.text')), r'\s+').alias('_at'))
        # the slice start is 1-based from the END for the before side:
        # last k tokens = slice(arr, max(1, size-k+1), k); NULL text ->
        # NULL token array -> NULL slice -> NULL caption (greatest()
        # skips the NULL size, slice(NULL,...) stays NULL)
        .withColumn('_bs', F.slice(
            '_bt',
            F.greatest(F.lit(1), F.size('_bt') - F.lit(k - 1)),
            F.lit(k)))
        .withColumn('_as', F.slice('_at', F.lit(1), F.lit(k))))
  return ex.select(
      'doc_id', 'media_ref', 'media_order', 'before_order',
      F.array_join('_bs', ' ').alias('caption_before'),
      F.size('_bs').alias('n_before_tokens'),
      'after_order',
      F.array_join('_as', ' ').alias('caption_after'),
      F.size('_as').alias('n_after_tokens'))


def interleaved_doc_stats(content: DataFrame, *,
                          min_images: int = 1,
                          max_images: int = 32,
                          min_text_tokens: int = 8,
                          max_media_run: int = 4,
                          passthrough: tuple = ()) -> DataFrame:
  """Per-document multimodal composition stats + keep verdict over the
  north-rule main-content output — the document-level filtering pass
  interleaved image-text corpora apply after pair/sequence extraction
  (OBELICS in Laurencon et al. 2023, arXiv:2306.16527 caps images per
  document and drops text-poor pages; MMC4 in Zhu et al. 2023,
  arXiv:2304.06939 discards docs whose images have no usable
  surrounding text).  Emits exact-integer counts so the verdict is
  auditable and the thresholds replayable:

    * n_spans / n_text / n_media — span counts by kind (text counts
      ALL text spans including empty degraded ones; n_tokens only
      counts non-empty);
    * n_tokens — total whitespace tokens over non-empty text spans;
    * media_run — longest run of consecutive media spans in `order`
      (a gallery page signal: many adjacent images with no
      interleaved prose);
    * lead_media / trail_media — document starts/ends with media
      (head/tail images have only one caption side);
    * keep — min_images <= n_media <= max_images AND
      n_tokens >= min_text_tokens AND media_run <= max_media_run.

  Scale shape: Scan -> Project, higher-order functions over the span
  array only — ZERO shuffles, zero Python, embarrassingly parallel
  over doc_id (plan pinned by test).  The sorted span array and the
  non-empty-text array are staged as projected columns (interpreted
  HOF lambdas get no common-subexpression elimination — the
  _bloom_flat_positions lesson), so each runs once per row.  Per-row
  work is O(spans); at 10^12 docs the only lever is executor count.

  `passthrough` names input columns to carry through unchanged (e.g.
  out_spans itself, or dedup_media_spans' n_media_removed) so a
  curation pipeline can filter on `keep` and continue WITHOUT a
  doc_id self-join back to the payload.
  """
  if min_images < 0 or max_images < min_images:
    raise ValueError('need 0 <= min_images <= max_images')
  staged = (content
            .select('doc_id', *passthrough,
                    F.expr('array_sort(out_spans, '
                           '(a, b) -> a.order - b.order)')
                    .alias('_spans'))
            .select('doc_id', *passthrough, '_spans',
                    F.expr("filter(_spans, t -> t.kind = 'text' "
                           'AND t.text IS NOT NULL '
                           "AND length(trim(t.text)) > 0)")
                    .alias('_texts')))
  stats = staged.select(
      'doc_id', *passthrough,
      F.size('_spans').alias('n_spans'),
      F.expr("size(filter(_spans, s -> s.kind = 'text'))")
      .alias('n_text'),
      F.expr("size(filter(_spans, s -> s.kind = 'media'))")
      .alias('n_media'),
      F.expr("aggregate(_texts, 0, (acc, t) -> "
             "acc + size(split(trim(t.text), '\\\\s+')))")
      .alias('n_tokens'),
      # longest consecutive-media run: one left fold carrying
      # (current run, best run)
      F.expr("aggregate(_spans, named_struct('cur', 0, 'best', 0), "
             "(acc, s) -> IF(s.kind = 'media', "
             "  named_struct('cur', acc.cur + 1, "
             "               'best', greatest(acc.best, acc.cur + 1)), "
             "  named_struct('cur', 0, 'best', acc.best)), "
             'acc -> acc.best)').alias('media_run'),
      F.coalesce(
          F.expr("try_element_at(_spans, 1).kind = 'media'").cast('int'),
          F.lit(0)).alias('lead_media'),
      F.coalesce(
          F.expr("try_element_at(_spans, -1).kind = 'media'").cast('int'),
          F.lit(0)).alias('trail_media'))
  return stats.withColumn(
      'keep',
      ((F.col('n_media') >= min_images)
       & (F.col('n_media') <= max_images)
       & (F.col('n_tokens') >= min_text_tokens)
       & (F.col('media_run') <= max_media_run)).cast('int'))


def render_interleaved(content: DataFrame, *,
                       media_token: str = MEDIA_TOKEN,
                       passthrough: tuple = ()) -> DataFrame:
  """Render north-rule main-content output into the flat training-text
  form multimodal LMs consume: text spans joined in span order with
  every media span replaced by a sentinel token, plus the ordered
  media manifest that maps the i-th sentinel back to its media_ref
  (the loader resolves refs to pixels at batch time; the text side is
  now a plain LM corpus).  Empty text spans (the documented
  failed-parse degradation) are dropped from the rendering — they
  would contribute only stray separators.

  Returns (doc_id, rendered_text, media_manifest:array<string>,
  n_sentinels, n_render_tokens) where n_render_tokens counts
  whitespace tokens of rendered_text (text tokens + one per
  sentinel, exact by construction since the sentinel contains no
  whitespace).

  Scale shape: Scan -> Project, higher-order functions only — ZERO
  shuffles, zero Python (plan pinned by test); the sorted/filtered
  arrays are staged once as projected columns.
  """
  if not media_token or any(c.isspace() for c in media_token):
    raise ValueError('media_token must be non-empty and '
                     'whitespace-free')
  staged = (content
            .select('doc_id', *passthrough,
                    F.expr('array_sort(out_spans, '
                           '(a, b) -> a.order - b.order)')
                    .alias('_spans'))
            .select('doc_id', *passthrough,
                    F.expr("filter(_spans, s -> s.kind = 'media' OR "
                           "(s.kind = 'text' AND s.text IS NOT NULL "
                           'AND length(trim(s.text)) > 0))')
                    .alias('_keep'),
                    F.expr("transform(filter(_spans, "
                           "s -> s.kind = 'media'), s -> s.media_ref)")
                    .alias('media_manifest')))
  tok = F.lit(media_token)
  return staged.select(
      'doc_id', *passthrough,
      F.array_join(
          F.transform('_keep',
                      lambda s: F.when(s['kind'] == 'media', tok)
                      .otherwise(F.trim(s['text']))), ' ')
      .alias('rendered_text'),
      'media_manifest',
      F.size('media_manifest').alias('n_sentinels'),
      (F.expr("aggregate(filter(_keep, s -> s.kind = 'text'), 0, "
              "(acc, s) -> acc + size(split(trim(s.text), '\\\\s+')))")
       + F.size('media_manifest')).alias('n_render_tokens'))


def dedup_media_spans(content: DataFrame, *,
                      max_media_df: int) -> DataFrame:
  """Corpus-level boilerplate-media removal over the north-rule
  main-content output: media spans whose media_ref is embedded by
  more than `max_media_df` distinct documents are removed from every
  document (site-wide logos, tracking pixels, social-share buttons —
  MMC4 discards the most-frequent images outright because an asset on
  thousands of pages is never document content; no pixel decode
  needed, the shared URL IS the signal).  Text spans and span order
  are untouched; the complement of interleaved_near_dup's shared-media
  EVIDENCE, this is the shared-media REMOVAL.

  Returns (doc_id, out_spans, n_media_removed) with the same span
  element type as the input, hot media spans filtered out.

  Scale shape: the hot-ref set is bounded by construction —
  df > max_media_df means at most total_media_occurrences /
  max_media_df distinct hot refs (the heavy_hitters argument), a
  DIMENSION, not a corpus — exactly the broadcast-blocklist argument
  url_curation makes.  Plan: one per-(doc,ref) distinct + word-count
  groupBy (map-side combinable — a global logo hub is absorbed by
  partial counts) builds the hot set, which collapses to a single
  broadcast row carrying the sorted hot-ref array; the span rewrite
  is then a map-side higher-order filter against that broadcast —
  the document payload NEVER shuffles and there is no doc_id join at
  all.  (A first cut LEFT-joined a per-doc hot aggregation back on
  doc_id; the cluster-scaling harness measured that shuffling the
  whole span payload across executor JVMs — 0.06 efficiency at 1->4
  executors — which is why this is a broadcast, not a join.)  If a
  pathological cap ever made the hot set too big to broadcast, the
  fallback is a bloom-filter probe (bloom_decontaminate's shape);
  with realistic caps the hot set is boilerplate-sized.
  """
  if max_media_df < 1:
    raise ValueError('max_media_df must be >= 1')
  refs = (content
          .select('doc_id', F.explode(F.expr(
              "transform(filter(out_spans, s -> s.kind = 'media'), "
              's -> s.media_ref)')).alias('media_ref'))
          .distinct())
  hot_row = (refs.groupBy('media_ref')
             .agg(F.count(F.lit(1)).alias('df'))
             .where(F.col('df') > max_media_df)
             .agg(F.sort_array(F.collect_set('media_ref'))
                  .alias('_hot')))
  joined = content.crossJoin(F.broadcast(hot_row))
  # one staged pass over the span array (interpreted HOF lambdas get
  # no CSE); the containment probe is NULL-safe — array_contains
  # against a non-empty array returns NULL for a NULL media_ref, and
  # an unguarded NOT(... AND NULL) would silently drop the span
  # whenever the corpus has ANY hot asset (and not count it)
  staged = joined.withColumn(
      '_survive',
      F.expr("filter(out_spans, s -> NOT (s.kind = 'media' "
             'AND coalesce(array_contains(_hot, s.media_ref), '
             'false)))'))
  return staged.select(
      'doc_id',
      F.col('_survive').alias('out_spans'),
      (F.size('out_spans') - F.size('_survive'))
      .alias('n_media_removed'))


def span_token_offsets(content: DataFrame) -> DataFrame:
  """Span -> token alignment table for the rendered training text:
  each span of the north-rule main-content output is mapped to its
  (token_start, n_tokens) slice in render_interleaved's token
  sequence — text spans cover their whitespace-token count, media
  spans cover exactly one sentinel token, empty/whitespace text spans
  cover zero tokens (they are dropped from the rendering).  This is
  the alignment a multimodal loader needs to know which token
  positions are image sentinels (and which text tokens came from
  which source span) without re-tokenizing — sum(n_tokens) per doc
  equals render_interleaved's n_render_tokens by construction
  (pinned by test).

  Returns one row per span: (doc_id, span_order, kind, text,
  media_ref, token_start, n_tokens).

  Scale shape: Scan -> Project -> Generate — ZERO shuffles, zero
  Python (plan pinned by test).  The prefix sum runs as one left
  fold over the order-sorted span array (the offsets array is built
  by the same pass that sums the counts); per-row work is O(spans^2)
  array-copy worst case in the fold's concat, bounded by per-doc
  span counts (tens), never corpus-shaped.
  """
  staged = (content
            .select('doc_id',
                    F.expr('array_sort(out_spans, '
                           '(a, b) -> a.order - b.order)')
                    .alias('_spans'))
            .select('doc_id', '_spans',
                    F.expr("transform(_spans, s -> CASE "
                           "WHEN s.kind = 'media' THEN 1 "
                           "WHEN s.text IS NOT NULL "
                           "AND length(trim(s.text)) > 0 "
                           "THEN size(split(trim(s.text), '\\\\s+')) "
                           'ELSE 0 END)').alias('_counts')))
  starts = staged.select(
      'doc_id', '_spans', '_counts',
      F.expr("aggregate(_counts, "
             "named_struct('off', 0, 'starts', "
             "CAST(array() AS ARRAY<INT>)), "
             "(acc, c) -> named_struct('off', acc.off + c, "
             "'starts', concat(acc.starts, array(acc.off))), "
             'acc -> acc.starts)').alias('_starts'))
  return (starts
          .select('doc_id',
                  F.posexplode(F.arrays_zip('_spans', '_starts',
                                            '_counts'))
                  .alias('_i', 'z'))
          .select('doc_id',
                  F.col('z._spans.order').alias('span_order'),
                  F.col('z._spans.kind').alias('kind'),
                  F.col('z._spans.text').alias('text'),
                  F.col('z._spans.media_ref').alias('media_ref'),
                  F.col('z._starts').alias('token_start'),
                  F.col('z._counts').alias('n_tokens')))


def resolve_media_refs(content: DataFrame, media_dim: DataFrame, *,
                       broadcast_dim: bool = True) -> DataFrame:
  """Loader-side media resolution over the north-rule main-content
  output: every media span's media_ref is joined against a media
  metadata/payload dimension keyed by `media_ref`, yielding one row
  per sentinel in manifest order — (doc_id, sentinel_idx, media_ref,
  found, <dim columns>) — so the training loader can map the i-th
  <|image|> sentinel of render_interleaved straight to its payload
  row (sentinel_idx is the media_manifest array index) and unresolved
  refs (dead links, takedowns) are explicit `found = 0` rows instead
  of silent drops.

  Scale shape: the corpus side is Scan -> Project -> Generate (the
  sentinel explode) and with broadcast_dim=True (the default: media
  metadata is dimension-sized next to a 10^12-doc corpus) the join is
  map-side — the corpus NEVER shuffles (no hashpartitioning Exchange;
  plan pinned by test), so hub refs (site-wide logos shared by
  millions of docs) cost nothing beyond their probe.  Set
  broadcast_dim=False when the dimension itself is corpus-scale
  (per-doc unique assets); the join then shuffles BOTH sides on
  media_ref and hub refs hot-spot — run dedup_media_spans first so
  boilerplate hubs are already gone, which is the curation order the
  pipeline composes anyway.
  """
  sentinels = (content
               .select('doc_id',
                       F.expr("transform(filter(array_sort(out_spans, "
                              '(a, b) -> a.order - b.order), '
                              "s -> s.kind = 'media'), "
                              's -> s.media_ref)').alias('_refs'))
               .select('doc_id',
                       F.posexplode('_refs')
                       .alias('sentinel_idx', 'media_ref')))
  clash = {'doc_id', 'sentinel_idx', 'found', '_found'} \
      .intersection(media_dim.columns)
  if clash:
    raise ValueError(f'media_dim columns collide with output '
                     f'columns: {sorted(clash)}')
  marked = media_dim.withColumn('_found', F.lit(1))
  dim = F.broadcast(marked) if broadcast_dim else marked
  dim_cols = [c for c in media_dim.columns if c != 'media_ref']
  joined = sentinels.join(dim, 'media_ref', 'left')
  return joined.select('doc_id', 'sentinel_idx', 'media_ref',
                       F.coalesce('_found', F.lit(0)).alias('found'),
                       *dim_cols)


def interleaved_curation_pipeline(spark: SparkSession, sf_dir: str, *,
                                  max_media_df: int = 20,
                                  min_images: int = 1,
                                  max_images: int = 2,
                                  min_text_tokens: int = 8,
                                  max_media_run: int = 1,
                                  content: DataFrame = None
                                  ) -> DataFrame:
  """The INTERLEAVED training-data path end to end as one declarative
  plan — the multimodal sibling of curation.web_curation_pipeline:
  interleaved HTML+PDF+media spans → main-content extraction
  (boilerplate strip / layout parse) → corpus-level boilerplate-media
  removal (dedup_media_spans) → OBELICS/MMC4 document composition
  gate (interleaved_doc_stats keep verdict, computed on the CLEANED
  spans so removed logos no longer count as images) → sentinel-token
  rendering (render_interleaved) of the survivors.  This is the
  composition an interleaved-corpus pretraining run executes before
  tokenization/packing.

  Returns one row per KEPT document: (doc_id, rendered_text,
  media_manifest, n_sentinels, n_render_tokens, n_media_removed,
  n_media, n_tokens).

  Scale shape: ONE Catalyst plan — the Arrow strip is the zero-shuffle
  mapInPandas stage, media removal's only shuffle is the bounded
  hot-ref count collapsing to one broadcast row, and the stats gate
  and rendering ride the SAME frame via column passthrough (no doc_id
  self-join anywhere: stats/render re-derive nothing, they append
  columns).  `content=` is the seam for a pre-extracted corpus (the
  gate uses it to plant site-wide assets the oracle can recompute).
  """
  if content is None:
    from .html_extract import (
        interleaved_html_table, main_content_from_spans,
    )
    content = main_content_from_spans(
        interleaved_html_table(spark, sf_dir))
  cleaned = dedup_media_spans(content, max_media_df=max_media_df)
  gated = interleaved_doc_stats(
      cleaned, min_images=min_images, max_images=max_images,
      min_text_tokens=min_text_tokens, max_media_run=max_media_run,
      passthrough=('out_spans', 'n_media_removed'))
  kept = gated.where(F.col('keep') == 1)
  return render_interleaved(
      kept, passthrough=('n_media_removed', 'n_media', 'n_tokens'))


def tokenize_interleaved(spark: SparkSession, sf_dir: str, *,
                         n_merges: int = 24,
                         content: DataFrame = None,
                         merges: DataFrame = None,
                         tokenizer: str = 'bpe') -> DataFrame:
  """BPE-tokenize the INTERLEAVED corpus: render the north-rule
  main-content output to sentinel text (render_interleaved), train a
  BPE vocabulary on that rendered corpus with the media sentinel as a
  reserved ATOMIC token (it never contributes pair counts and always
  encodes to exactly one token — how production multimodal tokenizers
  treat `<|image|>`-style placeholders), and encode every document.

  Returns one row per document: (doc_id, n_words, n_tokens,
  n_sentinels, n_render_tokens).  Invariants by construction:
  n_words == n_render_tokens (every whitespace token of the rendered
  text is one BPE word, sentinels included) and each sentinel
  contributes exactly 1 to n_tokens.  Docs whose rendering is empty
  (zero surviving spans) keep their row with zero counts — the packing
  stage downstream needs the complete accounting.

  Scale shape: the rendered corpus is materialized ONCE
  (localCheckpoint — the lm_score precedent; a production run writes
  the rendered corpus to storage before tokenization anyway) and then
  scanned once by bpe_train's word-count reduction and once by
  bpe_encode's distinct-word encode+join; all merge learning happens
  on the vocabulary-sized word table, never the corpus (see
  textops.bpe_train).  `content=`/`merges=` are the pre-extracted
  corpus and pre-trained vocabulary seams.

  `tokenizer='unigram'` swaps in the unigram-LM tokenizer
  (ops/unigram.py, Kudo 2018) with the identical sentinel contract —
  the same rendered corpus, the same reserved-atomic media token,
  the same output schema; `merges=` then carries the unigram
  vocabulary frame instead of the merge table."""
  from .html_extract import (
      interleaved_html_table, main_content_from_spans,
  )
  from .textops import bpe_encode, bpe_train
  if content is None:
    content = main_content_from_spans(
        interleaved_html_table(spark, sf_dir))
  rend = render_interleaved(content) \
      .select('doc_id', 'rendered_text', 'n_sentinels',
              'n_render_tokens').localCheckpoint()
  docs = rend.select('doc_id', F.col('rendered_text').alias('text'))
  if tokenizer == 'unigram':
    from .unigram import unigram_encode, unigram_train
    if merges is None:
      merges = unigram_train(docs, special_tokens=(MEDIA_TOKEN,))
    enc = unigram_encode(docs, vocab=merges,
                         special_tokens=(MEDIA_TOKEN,))
  elif tokenizer == 'bpe':
    if merges is None:
      merges = bpe_train(docs, n_merges=n_merges,
                         special_tokens=(MEDIA_TOKEN,))
    enc = bpe_encode(docs, merges=merges,
                     special_tokens=(MEDIA_TOKEN,))
  else:
    raise ValueError(f'unknown tokenizer: {tokenizer!r}')
  return (rend
          .join(enc, 'doc_id', 'left')
          .select('doc_id',
                  F.coalesce('n_words', F.lit(0)).cast('long')
                  .alias('n_words'),
                  F.coalesce('n_tokens', F.lit(0)).cast('long')
                  .alias('n_tokens'),
                  'n_sentinels', 'n_render_tokens'))


def media_quality_verdicts(content: DataFrame, media_dim: DataFrame, *,
                           require_found: bool = True,
                           allowed_mime: tuple = None,
                           min_bytes: int = None,
                           min_width: int = None,
                           min_height: int = None,
                           min_aspect: float = None,
                           max_aspect: float = None,
                           broadcast_dim: bool = True) -> DataFrame:
  """Media quality filtering at the resolution step (the OBELICS /
  DataComp image-filtering shape: drop tiny thumbnails, banner-shaped
  aspect ratios, disallowed formats, dead links — judged from the
  media METADATA dimension, no pixel decode): every sentinel of the
  north-rule main-content output gets a keep/reject verdict with the
  first failing rule named, so downstream composition gates can count
  SURVIVING media and takedown audits can group by reason.

  Returns resolve_media_refs' rows plus (keep_media, reject_reason):
  one row per sentinel in manifest order — (doc_id, sentinel_idx,
  media_ref, found, <dim columns>, keep_media, reject_reason).
  Rules apply in a fixed order and reject_reason names the FIRST
  failure: 'missing' (found = 0, when require_found), then 'mime',
  'bytes', 'width', 'height', 'aspect'.  Metadata rules are
  NULL-safe: a resolved row with a NULL value for a checked column
  fails that rule (metadata the rule needs is absent), while
  unresolved rows only ever fail 'missing' — with
  require_found=False they pass vacuously and the explicit `found`
  column stays the caller's signal.  Aspect = width/height, guarded
  against non-positive height (fails 'aspect', never divides).

  Each rule is only active when its parameter is given, and demands
  its dimension column exist (ValueError otherwise — a silently
  unchecked rule is worse than a loud one).

  Scale shape: resolve_media_refs' plan plus ONE projection — the
  corpus side still never shuffles with broadcast_dim=True (the
  verdict is a map-side when-chain over the joined row), and the
  broadcast_dim=False corpus-scale-dimension fallback inherits
  resolve's composition contract (run dedup_media_spans first).
  """
  needed = {'mime': allowed_mime is not None,
            'n_bytes': min_bytes is not None,
            'width': min_width is not None or min_aspect is not None
            or max_aspect is not None,
            'height': min_height is not None or min_aspect is not None
            or max_aspect is not None}
  missing_cols = [c for c, need in needed.items()
                  if need and c not in media_dim.columns]
  if missing_cols:
    raise ValueError(f'rules need media_dim columns not present: '
                     f'{missing_cols}')
  clash = {'keep_media', 'reject_reason'}.intersection(media_dim.columns)
  if clash:
    raise ValueError(f'media_dim columns collide with verdict '
                     f'columns: {sorted(clash)}')
  resolved = resolve_media_refs(content, media_dim,
                                broadcast_dim=broadcast_dim)
  ok = F.col('found') == 1

  def _null_or(col, bad):
    # metadata rules are NULL-safe-reject on RESOLVED rows only
    return ok & (F.col(col).isNull() | bad)

  checks = []
  if require_found:
    checks.append(('missing', F.col('found') == 0))
  if allowed_mime is not None:
    checks.append(('mime', _null_or(
        'mime', ~F.col('mime').isin(*allowed_mime))))
  if min_bytes is not None:
    checks.append(('bytes', _null_or(
        'n_bytes', F.col('n_bytes') < F.lit(min_bytes))))
  if min_width is not None:
    checks.append(('width', _null_or(
        'width', F.col('width') < F.lit(min_width))))
  if min_height is not None:
    checks.append(('height', _null_or(
        'height', F.col('height') < F.lit(min_height))))
  if min_aspect is not None or max_aspect is not None:
    aspect = F.col('width').cast('double') \
        / F.col('height').cast('double')
    bad = F.col('height') <= 0
    if min_aspect is not None:
      bad = bad | (aspect < F.lit(float(min_aspect)))
    if max_aspect is not None:
      bad = bad | (aspect > F.lit(float(max_aspect)))
    checks.append(('aspect', ok & (
        F.col('width').isNull() | F.col('height').isNull() | bad)))

  reason = F.lit(None).cast('string')
  for name, cond in reversed(checks):
    reason = F.when(cond, F.lit(name)).otherwise(reason)
  return resolved.select(
      '*', reason.alias('reject_reason')).select(
      '*', F.when(F.col('reject_reason').isNull(), F.lit(1))
      .otherwise(F.lit(0)).alias('keep_media'))


def caption_image_alignment(spark: SparkSession, sf_dir: str, *,
                            threshold: float = 0.2,
                            content: DataFrame = None,
                            media_emb: DataFrame = None,
                            broadcast_emb: bool = False) -> DataFrame:
  """CLIP-score-style caption↔image alignment filtering over the
  north-rule caption pairs — the DataComp (Gadre et al. 2023,
  arXiv:2304.14108) / LAION (Schuhmann et al. 2021) selection step:
  every mined (media, caption) pair gets an alignment cosine between
  the caption's text embedding and the image's embedding, and a keep
  verdict at a threshold.  In production the text side is a real text
  encoder; this container ships none, so the text embedding is a
  deterministic signed feature-hashing projection (md5-bucketed ±1
  per token into 64 dims — the quality_classifier hashing device),
  a stand-in that keeps every Spark-side piece real and testable:
  the per-pair scoring plan, the media-embedding join shape, the
  exact-integer text vector, the verdict arithmetic.  Swapping in a
  real encoder changes ONE projected column (a Pandas-UDF batch
  encode), nothing else.

  Input pairs are caption_pairs(content, max_caption_tokens=8) — one
  row per media span; the caption is the before/after neighbors
  joined (concat_ws skips a NULL side).  `media_emb` maps media_ref →
  embedding (array<float>); default derives it from the embeddings
  table as media/{vec_id}/0, so at small scales every first media
  span resolves and at larger document counts the table runs out —
  exercising both hit and miss paths corpus-wide.

  Returns one row per media span, in (doc_id, media_order) order:
    doc_id, media_order, media_ref, n_cap_tokens, found (media
    embedding resolved), clip_r (alignment cosine rounded to 4 from
    the RAW value — never re-rounded from the 6dp value, the
    hard_negative_mining lesson), keep (1 iff found, a non-degenerate
    caption vector, and round(cos, 6) >= threshold).

  Determinism: the text vector is exact integers (signed bucket
  counts — order-free sums), cast to double exactly; the cosine is
  an in-index-order fold both engines reproduce (the
  list_dot_product discipline).  Degenerate rows (no caption tokens,
  all-zero text vector from sign cancellation, unresolved media) get
  NULL clip_r and keep 0 — never a division.

  Scale shape: caption mining and the hashing fold are the
  zero-shuffle caption_pairs scan plus map-side projections (the
  per-token (bucket, sign) pairs staged as their OWN transform pass —
  interpreted HOFs get no CSE, an inline bucket(w) inside the
  accumulator fold would re-digest per dim); the ONLY substantive
  plan step is the media_ref equi-join, which AQE shapes by the
  actual embedding-table size (image embeddings scale with media
  count at 10^12 docs — corpus-scale, so no broadcast by default;
  `broadcast_emb=True` pins the map-side join for dimension-sized
  tables).  Hub refs (site-wide logos) hot-spot the join exactly like
  resolve_media_refs — run dedup_media_spans first, the curation
  order the pipeline composes anyway."""
  if content is None:
    from .html_extract import (
        interleaved_html_table, main_content_from_spans,
    )
    content = main_content_from_spans(
        interleaved_html_table(spark, sf_dir))
  if media_emb is None:
    media_emb = (spark.read.parquet(f'{sf_dir}/embeddings.parquet')
                 .select(F.concat(F.lit('media/'), F.col('vec_id'),
                                  F.lit('/0')).alias('media_ref'),
                         'embedding'))
  pairs = caption_pairs(content, max_caption_tokens=8)
  dim = 64

  def _h(salt, w):
    return F.conv(F.substring(
        F.md5(F.concat(F.lit(salt), w)), 1, 8), 16, 10).cast('long')

  caption = F.concat_ws(' ', 'caption_before', 'caption_after')
  # per-token (bucket, sign) staged as ONE transform pass (no-CSE rule)
  tok_h = F.transform(words(caption), lambda w: F.struct(
      F.pmod(_h('cia:', w), F.lit(dim)).cast('int').alias('j'),
      (1 - 2 * F.pmod(_h('cias:', w), F.lit(2))).cast('long')
      .alias('s')))
  staged = (pairs
            .select('doc_id', 'media_order', 'media_ref',
                    tok_h.alias('_th'))
            .select('doc_id', 'media_order', 'media_ref',
                    F.size('_th').alias('n_cap_tokens'),
                    F.aggregate(
                        '_th',
                        F.array_repeat(F.lit(0).cast('long'), dim),
                        lambda acc, t: F.transform(
                            acc, lambda x, i: x + F.when(
                                i == t['j'], t['s'])
                            .otherwise(F.lit(0).cast('long'))))
                    .alias('_v')))
  marked = media_emb.withColumn('_found', F.lit(1))
  emb = F.broadcast(marked) if broadcast_emb else marked
  joined = (staged.join(emb, 'media_ref', 'left')
            .select('doc_id', 'media_order', 'media_ref',
                    'n_cap_tokens',
                    F.coalesce('_found', F.lit(0)).alias('found'),
                    F.transform('_v', lambda x: x.cast('double'))
                    .alias('_vd'),
                    F.transform('embedding',
                                lambda x: x.cast('double'))
                    .alias('_ed')))
  from .vectors import _dot, _norm
  # dot and both norms staged as their own projected columns: each is
  # an interpreted fold, and nv/ne are consumed twice (guard +
  # division) — inlining would re-run the folds per consumer
  normed = joined.select(
      'doc_id', 'media_order', 'media_ref', 'n_cap_tokens', 'found',
      _dot(F.col('_vd'), F.col('_ed')).alias('_dp'),
      _norm(F.col('_vd')).alias('_nv'),
      _norm(F.col('_ed')).alias('_ne'))
  raw = (normed
         .select('doc_id', 'media_order', 'media_ref', 'n_cap_tokens',
                 'found',
                 F.when((F.col('found') == 1)
                        & (F.col('n_cap_tokens') > 0)
                        & (F.col('_nv') > 0) & (F.col('_ne') > 0),
                        F.col('_dp') / (F.col('_nv') * F.col('_ne')))
                 .alias('cos')))
  return (raw.select('doc_id', 'media_order', 'media_ref',
                     'n_cap_tokens', 'found',
                     F.round('cos', 4).alias('clip_r'),
                     F.coalesce(
                         (F.round('cos', 6) >= F.lit(threshold))
                         .cast('int'), F.lit(0)).alias('keep'))
          .orderBy('doc_id', 'media_order'))
