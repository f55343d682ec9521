"""`dedup.minhash_bands` against the band expression it replaced: one
Python-built struct Column per band, kept here as the reference. The
buckets must be the same bits, so signature stores written before the
change still answer probes."""

from pyspark.sql import functions as F

from hadoop_stuff_spark.catalog import load_table
from hadoop_stuff_spark.operators.dedup import (
    LSH_BANDS,
    MINHASH_PERMS,
    minhash_bands,
    minhash_signature,
)


def _reference_bands(sig: str, bands: int, rows: int):
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        F.array_join(
                            F.transform(
                                F.slice(sig, b * rows + 1, rows),
                                lambda x: x.cast("string"),
                            ),
                            ",",
                        )
                    ).alias("bucket"),
                )
                for b in range(bands)
            ]
        )
    )


def test_minhash_bands_match_the_per_band_columns(spark, sf_dir):
    rows = MINHASH_PERMS // LSH_BANDS
    sigs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", minhash_signature("text").alias("sig"))
        .localCheckpoint(eager=True)
    )

    def banded(bands_col):
        return sigs.select("doc_id", bands_col.alias("bb")).select(
            "doc_id", "bb.band", "bb.bucket"
        )

    got = banded(minhash_bands("sig", LSH_BANDS, rows))
    want = banded(_reference_bands("sig", LSH_BANDS, rows))
    assert got.schema == want.schema
    assert got.count() == want.count() == sigs.count() * LSH_BANDS
    assert got.exceptAll(want).isEmpty()
    assert want.exceptAll(got).isEmpty()
