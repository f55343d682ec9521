"""Codec correctness (SURVEY.md §5.2 golden/self-oracle tests):
- gzip/base64 round-trip properties, including the >32 KiB regression for
  the reference's truncating single-read bug (SampleMapRed.java:39-41)
- count invariance across chunk sizes (the P5 knob: 200/1,000/10,000)
- needle grep recall (ghost-record injection, IngestTest.java:114-123)
"""

import gzip

from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from hadoop_stuff_spark.functions.codecs import (
    b64_gzip_decode_str,
    b64_gzip_encode,
    gzip_compress,
    gzip_decompress_str,
)
from hadoop_stuff_spark.operators.counts import chunked_record_count
from hadoop_stuff_spark.operators.grep import grep
from hadoop_stuff_spark.sources.chunks import (
    chunk_lines_partitionwise,
    explode_chunks,
)


def _lines_df(spark, lines):
    return spark.createDataFrame(
        [(l,) for l in lines], StructType([StructField("line", StringType())])
    )


def test_gzip_roundtrip_small(spark):
    df = _lines_df(spark, ["hello", "world", "ünïcødé ✓"])
    out = df.select(gzip_decompress_str(gzip_compress("line")).alias("back"), "line")
    assert all(r.back == r.line for r in out.collect())


def test_gzip_roundtrip_over_32k(spark):
    """Regression for the reference's 32 KiB truncation bug: a payload
    whose decompressed size far exceeds one read buffer must come back
    byte-identical."""
    big = "x" * 200_000 + "END"
    df = _lines_df(spark, [big])
    [r] = df.select(gzip_decompress_str(gzip_compress("line")).alias("back")).collect()
    assert len(r.back) == len(big)
    assert r.back == big


def test_gzip_matches_python_gzip(spark):
    """Engine-independent determinism: our compress bytes decode with
    stock python gzip and vice versa."""
    df = _lines_df(spark, ["abc 123"])
    [r] = df.select(gzip_compress("line").alias("gz")).collect()
    assert gzip.decompress(bytes(r.gz)).decode() == "abc 123"
    pre = gzip.compress(b"from python", mtime=0)
    df2 = spark.createDataFrame([(bytearray(pre),)], "gz: binary")
    [r2] = df2.select(gzip_decompress_str("gz").alias("s")).collect()
    assert r2.s == "from python"


def test_b64_envelope_roundtrip(spark):
    """S8: base64-of-gzip text-safe envelope (TailFTest.java:412-422)."""
    chunk = "\n".join(f"record {i}" for i in range(5000))  # > 32 KiB decoded
    df = _lines_df(spark, [chunk])
    out = df.select(b64_gzip_decode_str(b64_gzip_encode("line")).alias("back"))
    [r] = out.collect()
    assert r.back == chunk


def test_count_invariance_across_chunk_sizes(spark, sf_dir):
    """A1-A3 invariant: chunked count == plain count for every chunk size
    in the reference's sweep (TailFTest.java:179-183)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("text")
    expected = docs.count()
    for chunk_size in (200, 1000, 10000):
        chunks = chunk_lines_partitionwise(docs, "text", chunk_size)
        [row] = chunked_record_count(chunks).collect()
        assert row.record_count == expected, f"chunk_size={chunk_size}"


def test_ordered_chunker_preserves_content(spark, sf_dir):
    """Chunking a doc_id-ordered input and decoding it back yields the
    same multiset of lines, both ways."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").orderBy("doc_id")
    chunks = chunk_lines_partitionwise(docs, "text", 64)
    back = explode_chunks(chunks, "text").select("text")
    orig = docs.select("text")
    assert back.exceptAll(orig).count() == 0
    assert orig.exceptAll(back).count() == 0


def test_needle_grep_recall(spark):
    """Ghost-record needles (T8): plant k marker records among noise;
    grep through the full chunk→decode→explode pipeline must find exactly
    k — no more, no less."""
    noise = [f"flow record {i} src=10.0.0.{i % 256}" for i in range(20_000)]
    needle = "GHOST RECORD OLEG ZHURAKOUSKY"
    k = 7
    lines = list(noise)
    step = len(lines) // k
    for j in range(k):
        lines[j * step] = f"{needle} #{j}"
    df = _lines_df(spark, lines).repartition(8)
    chunks = chunk_lines_partitionwise(df, "line", 512)
    records = explode_chunks(chunks, "line")
    found = grep(records, "OLEG ZHURAKOUSKY", "line")
    assert found.count() == k
    assert grep(records, "NO SUCH NEEDLE", "line").count() == 0


def test_inject_needles_recall_through_chunk_roundtrip(spark, tmp_path):
    """T8 as an engine function: seeded injection → chunked store → grep
    recall is exactly the injected count (ground truth from the tag col)."""
    from pyspark.sql import functions as F

    from hadoop_stuff_spark.functions.fixtures import inject_needles, synth_flow_records
    from hadoop_stuff_spark.operators.grep import grep
    from hadoop_stuff_spark.sources.chunks import read_chunked, write_chunked

    lines = spark.range(50000).select(synth_flow_records("id").alias("value"))
    seeded = inject_needles(lines, "value", "GHOST NEEDLE RECORD", p=1e-3, seed=7)
    k = seeded.filter("__is_needle").count()
    assert k > 0  # at p=1e-3 over 50k rows this is ~50; seeded → stable

    store = str(tmp_path / "store")
    write_chunked(seeded.drop("__is_needle"), "value", store, chunk_size=500)
    found = grep(read_chunked(spark, store, "value"), "GHOST NEEDLE").count()
    assert found == k


def test_permissive_decode_skips_corrupt_chunks(spark):
    """A torn/corrupt chunk must not kill a backfill: strict decode raises,
    permissive explode skips exactly the bad chunk and keeps the rest."""
    import gzip as _gzip

    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.utils import PythonException

    from hadoop_stuff_spark.functions.codecs import gzip_decompress_permissive
    from hadoop_stuff_spark.sources.chunks import explode_chunks

    good1 = _gzip.compress(b"a1\na2", mtime=0)
    good2 = _gzip.compress(b"b1\nb2\nb3", mtime=0)
    torn = good2[: len(good2) // 2]  # truncated member
    garbage = b"\x00\x01not-gzip"
    chunks = spark.createDataFrame(
        [(1, good1), (2, torn), (3, garbage), (4, good2)],
        "key: long, value: binary",
    )

    with pytest.raises(PythonException):
        explode_chunks(chunks, "line").count()

    lines = explode_chunks(chunks, "line", permissive=True)
    assert sorted(r.line for r in lines.collect()) == ["a1", "a2", "b1", "b2", "b3"]

    # quarantine tally: exactly the two bad chunks decode to NULL
    bad = chunks.filter(gzip_decompress_permissive("value").isNull())
    assert sorted(r.key for r in bad.collect()) == [2, 3]
