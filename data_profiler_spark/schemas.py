"""Declared schemas — nothing in this engine is schema-inferred.

The reference declares fixed schemas as dict constants
(``data_profiler/helpers/constants/data_file_constants.py:36-161`` in
/root/reference) and validates headers against them
(``helpers/functions/data_file_functions.py:42-54``). We keep the same
philosophy with explicit ``StructType``s.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Primary production-shaped input: the audio clips + transcript table
# (BASELINE.json input_hint).
# ---------------------------------------------------------------------------
CLIPS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("sr_hz", T.IntegerType(), True),
        T.StructField("dur_ms", T.IntegerType(), True),
        T.StructField("codec", T.StringType(), True),
        T.StructField("transcript", T.StringType(), True),
    ]
)

# Companion table for referential-integrity checks (FIXTURES.md §1).
TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("transcript", T.StringType(), True),
    ]
)

# Per-clip decoded-audio statistics (output of audio.decode_stats).
CLIP_STATS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("decode_err", T.StringType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("decoded_ms", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("peak", T.DoubleType(), True),
        T.StructField("clip_ratio", T.DoubleType(), True),
        T.StructField("zero_cross_rate", T.DoubleType(), True),
        T.StructField("snr_db_vs_sine", T.DoubleType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Engine output tables. The reference's verdict objects
# (helpers/models/DataFiles.py:52-77, helpers/models/Responses.py:12-43) are
# booleans + error strings on the driver; here they are typed DataFrames so
# they stay distributed and mergeable.
# ---------------------------------------------------------------------------

# Long-format per-column profile metrics (analog of the Data Describer's
# per-column stats table, data_profiler.py:462-646).
PROFILE_SCHEMA = T.StructType(
    [
        T.StructField("column", T.StringType(), False),
        T.StructField("metric", T.StringType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("str_value", T.StringType(), True),
    ]
)

# Histogram buckets (Describer's px.histogram analog; also the PSI input).
HISTOGRAM_SCHEMA = T.StructType(
    [
        T.StructField("column", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("lo", T.DoubleType(), True),
        T.StructField("hi", T.DoubleType(), True),
        T.StructField("count", T.LongType(), False),
    ]
)

# One row per (check, partition): the distributed form of FileValidation.
VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("check_name", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("passed", T.BooleanType(), False),
        T.StructField("violation_count", T.LongType(), False),
        T.StructField("rows_checked", T.LongType(), False),
        T.StructField("detail", T.StringType(), True),
    ]
)

# Violation rows: offending keys + reason. The reference logs the first 10
# bad keys (data_directory.py:306-356); we keep the full set as a table and
# sample for reports.
VIOLATION_SCHEMA = T.StructType(
    [
        T.StructField("check_name", T.StringType(), False),
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("detail", T.StringType(), True),
    ]
)

# Resume manifest: one row per completed logical partition
# (FIXTURES.md §1 `manifest`; reference seed: transform_service.py:213-214).
MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("snapshot_id", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("rows", T.LongType(), True),
        T.StructField("metrics_json", T.StringType(), True),
        T.StructField("wall_ms", T.LongType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Reference CSV file schemas (data_file_constants.py:12-161) — used by the
# type-coercion / default-fill parity layer and its tests.
# ---------------------------------------------------------------------------

# dtype name -> (Spark type, default fill) ; defaults from
# data_file_constants.py:163-169 via data_file_functions.py:90-103.
REF_DTYPE_DEFAULTS: dict[str, tuple[T.DataType, object]] = {
    "object": (T.StringType(), ""),
    "int64": (T.LongType(), 0),
    "float64": (T.DoubleType(), 0.0),
    "date": (T.DateType(), "1900-01-01"),
    "time": (T.StringType(), "00:00:00"),  # Spark<4 time-of-day: keep string
}

_IM_STR = ["SKU", "SKUDescription", "SKUClass", "ProductLine", "UnitOfMeasure", "Subwarehouse"]
_IM_FLOAT = [
    f"{u}{d}" for u in ("Each", "Inner", "Carton", "Pallet") for d in ("Length", "Width", "Height", "Weight")
]
_IM_INT = ["InnerQuantity", "CartonQuantity", "CartonsPerPallet", "PalletTie", "PalletHigh", "MaxPalletStack"]

REF_FILE_DTYPES: dict[str, dict[str, str]] = {
    # Combined Regular-directory uploads (data_file_constants.py
    # INBOUND_DTYPES/OUTBOUND_DTYPES): one flat file per flow that the
    # ingest splits into header/details via group-by-first
    # (sources/csvio.split_header_details; ref data_directory.py:420-441)
    "Inbound": {
        **{
            c: "object"
            for c in [
                "PO_Number", "SKU", "UnitOfMeasure", "Carrier", "Mode",
                "ShipmentNumber", "UnloadType", "VendorID", "SourcePoint",
            ]
        },
        "Quantity": "float64",
        **{c: "date" for c in ["ArrivalDate", "ExpectedDate"]},
        **{c: "time" for c in ["ArrivalTime", "ExpectedTime"]},
    },
    "Outbound": {
        **{
            c: "object"
            for c in [
                "OrderNumber", "SKU", "UnitOfMeasure", "PickType", "Channel",
                "BusinessUnit", "ShipContainerType", "SpecialHandlingCodes",
                "Carrier",
            ]
        },
        "Quantity": "float64",
        **{c: "date" for c in ["ReceivedDate", "PickDate", "ShipDate"]},
    },
    "ItemMaster": {
        **{c: "object" for c in _IM_STR},
        **{c: "float64" for c in _IM_FLOAT},
        **{c: "int64" for c in _IM_INT},
    },
    "InboundHeader": {
        **{c: "object" for c in ["PO_Number", "Carrier", "Mode", "ShipmentNumber", "UnloadType"]},
        **{c: "date" for c in ["ArrivalDate", "ExpectedDate"]},
        **{c: "time" for c in ["ArrivalTime", "ExpectedTime"]},
    },
    "InboundDetails": {
        **{c: "object" for c in ["PO_Number", "SKU", "UnitOfMeasure", "VendorID", "SourcePoint"]},
        "Quantity": "float64",
    },
    "Inventory": {
        **{c: "object" for c in ["SKU", "UnitOfMeasure", "Location", "Lot", "LPN", "Subwarehouse"]},
        "Period": "date",
        "Quantity": "float64",
    },
    "OrderHeader": {
        **{c: "object" for c in ["OrderNumber", "Channel"]},
        **{c: "date" for c in ["ReceivedDate", "PickDate", "ShipDate"]},
    },
    "OrderDetails": {
        **{
            c: "object"
            for c in [
                "OrderNumber",
                "SKU",
                "UnitOfMeasure",
                "PickType",
                "BusinessUnit",
                "ShipContainerType",
                "SpecialHandlingCodes",
                "Carrier",
            ]
        },
        "Quantity": "float64",
    },
}
