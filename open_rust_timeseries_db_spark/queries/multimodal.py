"""Multimodal / binary-payload queries (SURVEY.md §2.4, C2/E8-E9).

The reference's whole type system is "opaque little-endian bytes,
decoded by convention" (reference src/storage/table.rs:27, decode sites
src/tests/integration_test.rs:247-249). These queries keep that
capability as a first-class, oracle-checked surface:

- q_decode_roundtrip — encode typed fields to LE hex payloads and
  decode them back, all JVM-side (hex/substr/conv string ops compile to
  whole-stage codegen; no Python);
- q_binary_metadata — documents as opaque payloads + typed metadata
  (byte length vs char length, md5 fingerprint);
- q_frame_sample — Arrow-batched mapInPandas frame sampling (the
  image/video plumbing path, with a deterministic stand-in decoder).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_rust_timeseries_db_spark.operators.multimodal import frame_features
from open_rust_timeseries_db_spark.operators.sizing import py_stage_input
from open_rust_timeseries_db_spark.queries.helpers import events_us
from open_rust_timeseries_db_spark.queries.registry import query
from open_rust_timeseries_db_spark.sources.catalog import load_table

_WIDTH = 16  # hex chars in a u64 payload


def _le_hex_sql(expr: str) -> str:
    """DuckDB: big-endian hex of a BIGINT -> little-endian byte order."""
    be = f"lpad(to_hex({expr}), {_WIDTH}, '0')"
    pairs = ", ".join(
        f"substr({be}, {i}, 2)" for i in range(_WIDTH - 1, 0, -2)
    )
    return f"concat({pairs})"


def _rev_pairs_sql(expr: str) -> str:
    """DuckDB: reverse the byte (hex-pair) order of a 16-char hex string."""
    pairs = ", ".join(
        f"substr({expr}, {i}, 2)" for i in range(_WIDTH - 1, 0, -2)
    )
    return f"concat({pairs})"


def _le_hex_spark(expr: str) -> str:
    """Spark SQL: BIGINT -> 16-char big-endian hex -> little-endian pairs.

    A SQL string, not Column algebra: the byte-pair reversal is ~10
    nested expression nodes per payload and this builder constructs
    four of them — as Columns that was ~50 py4j round-trips of pure
    plan-build latency per invocation (round-6 measurement: 0.24 ms per
    call); one selectExpr parse replaces them all JVM-side.
    """
    be = f"lpad(hex({expr}), {_WIDTH}, '0')"
    pairs = ", ".join(
        f"substring({be}, {i}, 2)" for i in range(_WIDTH - 1, 0, -2)
    )
    return f"concat({pairs})"


def _le_decode_spark(col: str) -> str:
    """Spark SQL: little-endian 16-char hex payload -> BIGINT."""
    pairs = ", ".join(
        f"substring({col}, {i}, 2)" for i in range(_WIDTH - 1, 0, -2)
    )
    return f"CAST(conv(concat({pairs}), 16, 10) AS BIGINT)"


@query(
    "q_decode_roundtrip",
    f"""
    SELECT event_id,
           {_le_hex_sql("user_id")} AS user_payload,
           {_le_hex_sql("CAST(FLOOR(value * 1e6) AS BIGINT)")} AS value_payload,
           CAST(CAST('0x' || {_rev_pairs_sql(_le_hex_sql("user_id"))} AS BIGINT)
                AS BIGINT) AS user_id_dec,
           CAST(FLOOR(value * 1e6) AS BIGINT) AS value_fx_dec
    FROM events WHERE event_id % 7 = 0
    """,
    doc="Binary encode/decode roundtrip: typed fields -> little-endian "
    "hex payloads -> decoded back, mirroring the reference's "
    "to_le_bytes/from_le_bytes convention (reference "
    "src/tests/integration_test.rs:164-173, 247-249). Pure string/conv "
    "expressions — whole-stage codegen, zero Python. The oracle "
    "independently re-derives both the payload bytes and the decoded "
    "values, so a broken encoder OR decoder hash-mismatches.",
    tags=("multimodal", "binary"),
)
def q_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).filter(F.col("event_id") % 7 == 0)
    enc = ev.selectExpr(
        "event_id",
        f"{_le_hex_spark('user_id')} AS user_payload",
        f"{_le_hex_spark('CAST(FLOOR(value * 1e6) AS BIGINT)')} AS value_payload",
    )
    # Decode from the payloads themselves (true roundtrip, not a copy of
    # the source columns).
    return enc.selectExpr(
        "event_id",
        "user_payload",
        "value_payload",
        f"{_le_decode_spark('user_payload')} AS user_id_dec",
        f"{_le_decode_spark('value_payload')} AS value_fx_dec",
    )


@query(
    "q_binary_metadata",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS byte_len,
           CAST(length(text) AS BIGINT) AS char_len,
           md5(text) AS payload_md5,
           octet_length(encode(text)) > length(text) AS is_multibyte,
           source, lang
    FROM documents
    """,
    doc="Documents as opaque binary payloads with typed metadata: byte "
    "vs char length, md5 fingerprint, multibyte flag. The BinaryType "
    "column model for image/audio blobs (SURVEY.md §1.3) exercised on "
    "the table that exists in testdata; all JVM-side hash/length "
    "builtins.",
    tags=("multimodal", "binary"),
)
def q_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")  # the opaque-bytes column
    return docs.select(
        "doc_id",
        F.length(payload).cast("bigint").alias("byte_len"),
        F.length("text").cast("bigint").alias("char_len"),
        F.md5(payload).alias("payload_md5"),
        (F.length(payload) > F.length("text")).alias("is_multibyte"),
        "source",
        "lang",
    )


@query(
    "q_frame_sample",
    """
    WITH f AS (
      SELECT doc_id, text,
             unnest(range(0, CAST(CEIL(length(text) / 64.0) AS BIGINT)))
               AS frame_idx
      FROM documents
    )
    SELECT doc_id, frame_idx,
           md5(substr(text, CAST(frame_idx * 64 + 1 AS INT), 64)) AS frame_md5,
           CAST(length(substr(text, CAST(frame_idx * 64 + 1 AS INT), 64))
                AS BIGINT) AS frame_len
    FROM f WHERE frame_idx % 3 = 0
    """,
    doc="Video-style frame sampling over opaque payloads via "
    "Arrow-batched mapInPandas (operators/multimodal.frame_features): "
    "64-char frames, every 3rd kept, deterministic md5 'feature' per "
    "frame. This is the real plumbing a codec stage uses — binary in, "
    "columnar Python batch, struct features out — with a deterministic "
    "hash standing in for the per-frame embedding; the REAL decode "
    "path is exercised by q_image_decode's PNG codec.",
    tags=("multimodal", "pandas-udf"),
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return frame_features(docs, payload_col="text", id_col="doc_id")


_IMG_SIDE = 16  # synthesized test images are 16x16 gray


@query(
    "q_image_decode",
    f"""
    SELECT d.doc_id,
           CAST({_IMG_SIDE} AS BIGINT) AS width,
           CAST({_IMG_SIDE} AS BIGINT) AS height,
           CAST(1 AS BIGINT) AS channels,
           CAST(SUM((d.doc_id * 31 + g.k) % 256) AS BIGINT) AS pixel_sum,
           TRUE AS ok
    FROM documents d
    CROSS JOIN (
      SELECT unnest(generate_series(0, {_IMG_SIDE * _IMG_SIDE - 1})) AS k
    ) g
    GROUP BY d.doc_id
    """,
    doc="REAL image decode through the engine's pure-stdlib PNG codec "
    "(operators/multimodal.decode_image: zlib inflate + exact reversal "
    "of all five PNG scanline filters): per doc, synthesize a "
    f"deterministic {_IMG_SIDE}x{_IMG_SIDE} gray image "
    "(pixel[k] = (doc_id*31 + k) % 256), encode it to real PNG bytes, "
    "decode those bytes back with decode_image, and report the decoded "
    "dimensions + exact integer pixel sum. The oracle computes the "
    "same sums in CLOSED FORM (no codec), so a hash match proves the "
    "decode path reproduces every pixel — a cross-engine codec "
    "verification, not a fixture comparison. Shape: ONE narrow "
    "mapInPandas pass (encode+decode per doc inside the batch), zero "
    "shuffle; binary payloads never leave the task.",
    tags=("multimodal", "image", "codec"),
)
def q_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from open_rust_timeseries_db_spark.operators.multimodal import (
        decode_image,
        encode_png,
    )

    docs = py_stage_input(load_table(spark, sf_dir, "documents"))

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("width", T.LongType()),
            T.StructField("height", T.LongType()),
            T.StructField("channels", T.LongType()),
            T.StructField("pixel_sum", T.LongType()),
            T.StructField("ok", T.BooleanType()),
        ]
    )

    def roundtrip(batches):
        import numpy as np
        import pandas as pd

        side = _IMG_SIDE
        k = np.arange(side * side, dtype=np.int64)
        for pdf in batches:
            rows = {c: [] for c in
                    ("doc_id", "width", "height", "channels", "pixel_sum", "ok")}
            for doc_id in pdf["doc_id"]:
                img = (((int(doc_id) * 31) + k) % 256).astype(np.uint8)
                decoded = decode_image(encode_png(img.reshape(side, side)))
                rows["doc_id"].append(int(doc_id))
                rows["height"].append(decoded.shape[0])
                rows["width"].append(decoded.shape[1])
                rows["channels"].append(decoded.shape[2])
                rows["pixel_sum"].append(int(decoded.sum(dtype=np.int64)))
                rows["ok"].append(True)
            yield pd.DataFrame(
                {c: pd.Series(rows[c],
                              dtype=("bool" if c == "ok" else "int64"))
                 for c in
                 ("doc_id", "width", "height", "channels", "pixel_sum", "ok")}
            )

    return docs.select("doc_id").mapInPandas(roundtrip, schema)


_WAV_FRAMES = 256
_WAV_RATE = 16_000


@query(
    "q_audio_decode",
    f"""
    SELECT d.doc_id,
           CAST({_WAV_FRAMES} AS BIGINT) AS n_frames,
           CAST(1 AS BIGINT) AS n_channels,
           CAST({_WAV_RATE} AS BIGINT) AS sample_rate,
           CAST(SUM(ABS((d.doc_id * 7 + g.k * 13) % 4001 - 2000)) AS BIGINT)
             AS amp_sum,
           TRUE AS ok
    FROM documents d
    CROSS JOIN (
      SELECT unnest(generate_series(0, {_WAV_FRAMES - 1})) AS k
    ) g
    GROUP BY d.doc_id
    """,
    doc="REAL audio decode through the engine's pure-stdlib WAV codec "
    "(operators/multimodal.decode_audio: RIFF chunk walk + PCM "
    "sample extraction): per doc, synthesize a deterministic int16 "
    f"mono waveform (s[k] = (doc_id*7 + k*13) % 4001 - 2000, "
    f"{_WAV_FRAMES} frames @ {_WAV_RATE} Hz), encode it to canonical "
    "WAV bytes, decode them back, and report frame/channel/rate "
    "metadata plus the exact integer amplitude sum. The oracle "
    "computes the same sums in CLOSED FORM (no codec) — a hash match "
    "proves the decode path reproduces every sample. One narrow "
    "Arrow pass, zero shuffle.",
    tags=("multimodal", "audio", "codec"),
)
def q_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from open_rust_timeseries_db_spark.operators.multimodal import (
        decode_audio,
        encode_wav,
    )

    docs = py_stage_input(load_table(spark, sf_dir, "documents"))

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_frames", T.LongType()),
            T.StructField("n_channels", T.LongType()),
            T.StructField("sample_rate", T.LongType()),
            T.StructField("amp_sum", T.LongType()),
            T.StructField("ok", T.BooleanType()),
        ]
    )

    def roundtrip(batches):
        import numpy as np
        import pandas as pd

        k = np.arange(_WAV_FRAMES, dtype=np.int64)
        for pdf in batches:
            rows = {c: [] for c in
                    ("doc_id", "n_frames", "n_channels", "sample_rate",
                     "amp_sum", "ok")}
            for doc_id in pdf["doc_id"]:
                wave = ((int(doc_id) * 7 + k * 13) % 4001 - 2000).astype(
                    np.int16
                )
                decoded, rate = decode_audio(
                    encode_wav(wave, sample_rate=_WAV_RATE, bits=16)
                )
                rows["doc_id"].append(int(doc_id))
                rows["n_frames"].append(decoded.shape[0])
                rows["n_channels"].append(decoded.shape[1])
                rows["sample_rate"].append(rate)
                rows["amp_sum"].append(
                    int(np.abs(decoded.astype(np.int64)).sum())
                )
                rows["ok"].append(True)
            yield pd.DataFrame(
                {c: pd.Series(rows[c],
                              dtype=("bool" if c == "ok" else "int64"))
                 for c in
                 ("doc_id", "n_frames", "n_channels", "sample_rate",
                  "amp_sum", "ok")}
            )

    return docs.select("doc_id").mapInPandas(roundtrip, schema)
