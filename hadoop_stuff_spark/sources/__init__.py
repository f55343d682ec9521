from hadoop_stuff_spark.sources.chunks import (
    chunk_lines_partitionwise,
    explode_chunks,
    read_chunked,
    write_chunked,
)

__all__ = [
    "chunk_lines_partitionwise",
    "explode_chunks",
    "read_chunked",
    "write_chunked",
]
