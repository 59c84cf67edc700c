"""Driver-side parquet writer for small Arrow batches.

The reference persists nothing ("no built-in persistence",
reference README.md:15). The engine persists ticks in two places: the
ingest API's flush (``api.Table.flush_to_parquet``) and the layout's
driver path (``sources/layout._write_chunk_files``). Both write small
Arrow batches with no Spark job, through :func:`write_arrow_parquet`.
Everything larger goes through Spark's own parquet writer.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import types as T


def write_arrow_parquet(table, directory: str, schema: T.StructType) -> str:
    """Write the Arrow ``table`` as one snappy parquet file in
    ``directory`` on the driver, with no Spark job; returns its path.

    The footer carries ``schema`` under Spark's own row-metadata key, so
    ``spark.read.parquet`` reads the file with the Spark schema it would
    have written itself. The file is written under a hidden name (Spark
    lists no ``.``-prefixed file) and renamed into place, so a concurrent
    reader never lists a partial file. For small driver-side batches
    only: every row passes through this process.
    """
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    name = f"part-{uuid.uuid4()}.snappy.parquet"
    final = os.path.join(directory, name)
    tmp = os.path.join(directory, f".{name}.tmp")
    meta = {"org.apache.spark.sql.parquet.row.metadata": schema.json()}
    try:
        pq.write_table(
            table.replace_schema_metadata(meta), tmp, compression="snappy"
        )
        os.rename(tmp, final)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    return final
