"""The per-row media harness: images, audio and video as opaque binary
columns checked one row at a time inside Arrow-batched ``mapInPandas``.

The pixel, audio and video invariant rules (``rules/row_invariant.py``,
``rules/audio.py``, ``rules/video.py``) each run through
:func:`row_batches`: it owns the batch loop, the null checks and the
error policy, and the rule supplies only a per-row function and its
fault row. Bytes are consumed in the scan stage and never shuffled;
each rule's output is a few flags per row.

Codec reality in this container: pure-stdlib codecs throughout — PNG
(real), deterministic stub lossy (JPEG/WebP shape), WAV/PCM16 (real),
Y4M raw video (real). Formats that require native libraries (true
JPEG/WebP, mp3/flac, h264/vp9) degrade per row to a decode fault
behind the same batch interface, so swapping in Pillow/libjpeg/ffmpeg
changes one codec function in ``codecs.py``, not the dataflow.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import types as T

from .. import codecs


def _error_name(e: Exception) -> str:
    t = type(e)
    return t.__name__ if t.__module__ == "builtins" else f"{t.__module__}.{t.__name__}"


def row_batches(fn: Callable, fault: tuple | Callable, schema: T.StructType):
    """The ``mapInPandas`` function running ``fn`` once per row.

    Input batches hold ``(key, payload, *extra)`` columns; each is pulled
    out of the batch once, and ``fn(key, payload, *extra)`` returns the
    output values between the key and the ``error`` column that ends
    ``schema``. A row whose key or payload is null, whose ``fn`` raises
    one of ``codecs.DATA_ERRORS`` (a corrupt payload), or whose ``fn``
    returns None (its key names no reference to compare against) gets
    ``fault`` instead: a tuple, or a function of the input row for the
    values that need no payload, and ``error`` records why (``null
    bytes``, ``ValueError``, ``zlib.error``, ``no reference``, ...); it
    is null otherwise. Any other exception is an engine fault and fails
    the Spark task. Each input row yields exactly one output row.

    Callable on plain pandas frames — no Spark session needed.
    """
    names = schema.names

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            key_col, payload_col = pdf.columns[:2]
            out = []
            for row in zip(*(pdf[c].tolist() for c in pdf.columns)):
                err = None
                if row[0] is None or row[1] is None:
                    err = f"null {key_col if row[0] is None else payload_col}"
                else:
                    try:
                        vals = fn(*row)
                        if vals is None:
                            err = "no reference"
                    except codecs.DATA_ERRORS as e:
                        err = _error_name(e)
                if err is not None:
                    vals = fault(*row) if callable(fault) else fault
                out.append((row[0], *vals, err))
            yield pd.DataFrame.from_records(out, columns=names)

    return batches
