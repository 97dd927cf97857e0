"""Media transform stages completing the multimodal family
(operators/multimodal.py): deterministic byte-grid RESIZE and
codec-free AUDIO window energy — the two mapInPandas shapes the
mandate's decode / feature-extract / resize / frame-sample list still
lacked a standalone stage for.

Lives in its own leaf module, next to multimodal.py's featurizer.

* ``resize_media``: nearest-neighbor resampling over the payload
  treated as a ``meta.width × meta.height`` byte grid — REAL index
  arithmetic (the same row/col mapping a pixel resize performs), not a
  stub: only the pixel DECODE needs a codec (Pillow, absent in this
  container — gated in multimodal.decode_image); resampling a decoded
  grid does not. Output payload is exactly ``target_w × target_h``
  bytes with metadata updated, NULL payload/meta → NULL row values.
* ``audio_window_energy``: per-document RMS energy per fixed-size
  sample window, interpreting payload bytes as unsigned 8-bit PCM
  CENTERED on the 128 midpoint (the u8 PCM convention — silence is
  0x80, not 0x00) — codec-free by construction (raw PCM has no
  container format), so this one is the honest REAL path, not a
  stand-in. Output is an ``array<double>`` of per-window RMS values
  (exact: integer sum-of-squares over centered samples, one final
  sqrt per window) plus the window count — the feature a
  silence/clipping audio filter consumes (constant 0x80 → RMS 0).

Both stages stream Arrow batches through ``mapInPandas`` with
self-contained closures (imports inside — cloudpickle ships them by
value; executors never import this package), the multimodal.py
discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("media_type", T.StringType()),
                    T.StructField("width", T.LongType()),
                    T.StructField("height", T.LongType()),
                ]
            ),
        ),
    ]
)

ENERGY_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_windows", T.LongType()),
        T.StructField("window_rms", T.ArrayType(T.DoubleType())),
    ]
)


def resize_media(
    media: DataFrame, target_w: int, target_h: int
) -> DataFrame:
    """Nearest-neighbor resize of every payload byte-grid to
    ``target_w × target_h``; rows whose payload is shorter than
    ``meta.width × meta.height`` are padded with zero bytes first (a
    truncated fetch must not crash the batch)."""
    if target_w <= 0 or target_h <= 0:
        raise ValueError(f"target dims must be positive: {target_w}×{target_h}")

    def _resize(batches):
        import pandas as _pd

        for pdf in batches:
            out_payload, out_meta = [], []
            for p, m in zip(pdf["payload"], pdf["meta"]):
                w = None if m is None else m["width"]
                h = None if m is None else m["height"]
                if (
                    p is None
                    or m is None
                    or w is None
                    or h is None
                    or int(w) <= 0
                    or int(h) <= 0
                ):
                    # degenerate metadata (NULL/zero/negative dims) is a
                    # per-row data defect: emit a NULL row like the
                    # NULL-payload case instead of crashing the batch
                    out_payload.append(None)
                    out_meta.append(None)
                    continue
                w, h = int(w), int(h)
                grid = bytes(p).ljust(w * h, b"\x00")[: w * h]
                # nearest-neighbor index map — the exact arithmetic a
                # pixel resize performs on a decoded plane
                rows = [
                    grid[(y * h // target_h) * w:
                         (y * h // target_h) * w + w]
                    for y in range(target_h)
                ]
                resized = bytes(
                    row[x * w // target_w] for row in rows
                    for x in range(target_w)
                )
                out_payload.append(resized)
                out_meta.append(
                    {
                        "media_type": m["media_type"],
                        "width": target_w,
                        "height": target_h,
                    }
                )
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": out_payload,
                    "meta": out_meta,
                }
            )

    return media.mapInPandas(_resize, schema=RESIZED_SCHEMA)


def audio_window_energy(
    media: DataFrame, window_bytes: int = 256
) -> DataFrame:
    """Per-window RMS energy over the payload as unsigned 8-bit PCM:
    ``sqrt(mean((sample - 128)²))`` per full window (a trailing partial
    window is dropped — fixed-window semantics). Samples are CENTERED on
    the u8 midpoint 128 before squaring, the standard unsigned-PCM
    convention: true silence (constant 0x80) yields RMS 0, so the stat
    is directly usable by a silence/clipping gate. NULL payload → NULL
    columns; payloads shorter than one window → zero windows, empty
    array."""
    if window_bytes <= 0:
        raise ValueError(f"window_bytes must be positive: {window_bytes}")

    def _energy(batches):
        import math

        import pandas as _pd

        for pdf in batches:
            n_windows, rms = [], []
            for p in pdf["payload"]:
                if p is None:
                    n_windows.append(None)
                    rms.append(None)
                    continue
                b = bytes(p)
                k = len(b) // window_bytes
                vals = []
                for i in range(k):
                    w = b[i * window_bytes:(i + 1) * window_bytes]
                    # exact integer sum of squares over CENTERED
                    # samples, ONE final sqrt
                    vals.append(
                        math.sqrt(
                            sum((s - 128) * (s - 128) for s in w)
                            / window_bytes
                        )
                    )
                n_windows.append(k)
                rms.append(vals)
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_windows": n_windows,
                    "window_rms": rms,
                }
            )

    return media.mapInPandas(_energy, schema=ENERGY_SCHEMA)
