"""gzip / base64 chunk codecs — the reference's storage envelope (SURVEY.md
T1/T2/S8).

The reference stores N-line gzip "chunks" either as SequenceFile binary
values (IngestTest.java:130-148) or as base64-of-gzip text lines
(TailFTest.java:412-422). Spark has no built-in gzip *scalar* function, so
these are Arrow-batched pandas UDFs (the vectorized slow-path — SURVEY.md P6
is exactly the reference's own measurement that batch-at-a-time wins).

Correctness note: 2 of the reference's 3 decompress copies truncate output
to a single 32 KiB read (SampleMapRed.java:39-41,
HdfsReadWriteSample.java:84-86 — one `gzip.read(buf)` call). These UDFs use
`gzip.decompress`, which always drains the stream; tests regression-check a
> 32 KiB payload (tests/test_codecs.py).

Determinism: compression uses mtime=0 so identical input bytes give
identical chunk bytes on every executor/run (needed for content-hash
comparisons and idempotent re-writes).
"""

from __future__ import annotations

import gzip

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType, StringType


def gzip_bytes(data: bytes) -> bytes:
    """The one chunk compression: level 6, mtime=0 (see Determinism)."""
    return gzip.compress(data, compresslevel=6, mtime=0)


@pandas_udf(BinaryType())
def _gzip_compress_udf(data: pd.Series) -> pd.Series:
    return data.map(lambda v: None if v is None else gzip_bytes(bytes(v)))


@pandas_udf(BinaryType())
def _gzip_decompress_udf(data: pd.Series) -> pd.Series:
    # gzip.decompress drains the whole member stream — the *correct* loop
    # semantics of TailFTest.java:396-404, never the 32 KiB-truncating
    # single-read of SampleMapRed.java:39-41.
    return data.map(lambda v: None if v is None else gzip.decompress(bytes(v)))


def gzip_compress(col: Column | str) -> Column:
    """binary|string column -> gzip bytes (deterministic, mtime=0)."""
    c = F.col(col) if isinstance(col, str) else col
    return _gzip_compress_udf(c.cast(BinaryType()))


def gzip_decompress(col: Column | str) -> Column:
    """gzip bytes -> original bytes."""
    c = F.col(col) if isinstance(col, str) else col
    return _gzip_decompress_udf(c)


def gzip_decompress_str(col: Column | str) -> Column:
    """gzip bytes -> UTF-8 string (chunk text for explode-to-records)."""
    return gzip_decompress(col).cast(StringType())


def b64_gzip_encode(col: Column | str) -> Column:
    """Text-safe compressed envelope: gzip then base64, one output line per
    chunk (reference S8, TailFTest.java:412-422)."""
    return F.base64(gzip_compress(col))


def b64_gzip_decode_str(col: Column | str) -> Column:
    """Inverse of :func:`b64_gzip_encode` (reference T2, correct-loop
    semantics)."""
    c = F.col(col) if isinstance(col, str) else col
    return gzip_decompress(F.unbase64(c)).cast(StringType())


@pandas_udf(BinaryType())
def _gzip_decompress_permissive_udf(data: pd.Series) -> pd.Series:
    def safe(v):
        if v is None:
            return None
        try:
            return gzip.decompress(bytes(v))
        except (OSError, EOFError):
            return None

    return data.map(safe)


def gzip_decompress_permissive(col: Column | str) -> Column:
    """Like :func:`gzip_decompress` but corrupt/truncated chunks decode to
    NULL instead of failing the job — the badRecordsPath posture for a
    100 TB backfill where a handful of torn chunks must not kill hours of
    work. Pair with a null-count observe()/filter to quarantine them."""
    c = F.col(col) if isinstance(col, str) else col
    return _gzip_decompress_permissive_udf(c)
