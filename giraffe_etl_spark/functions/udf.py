"""Arrow-batched UDF wrappers over the pure transform library.

The giraffe task chain (SURVEY.md §2.2) becomes a chain of
``withColumn`` calls over these UDFs.  Data crosses the JVM/Python
boundary in Arrow record batches (no per-row Python UDFs anywhere in
the engine, per BASELINE.json input_hint).  The html -> (text, lang)
UDFs are ``arrow_udf``s over one kernel, functions/text_arrow.py, that
works on whole Arrow arrays (no per-row Python object) and hands back
to the pure functions of functions/text.py only the rows it cannot
prove byte-identical; the other UDFs are Series->Series
``pandas_udf``s that map the pure functions row by row.

Scale note: each UDF is stateless and embarrassingly parallel — cost is
O(rows) per partition with zero shuffle.  On a 1000-executor cluster
these run inside the same stage as the surrounding projections.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import text_arrow
from .text import fingerprint64, quality_score, token_count


@F.arrow_udf(StringType())
def extract_text_udf(html: pa.Array) -> pa.Array:
    return text_arrow.extract_text(html)


@F.arrow_udf(StringType())
def tag_lang_udf(text: pa.Array) -> pa.Array:
    return text_arrow.tag_lang(text)


@F.pandas_udf(IntegerType())
def token_count_udf(text: pd.Series) -> pd.Series:
    return text.map(token_count).astype("Int32")


@F.pandas_udf(DoubleType())
def quality_score_udf(text: pd.Series) -> pd.Series:
    return text.map(quality_score).astype("float64")


@F.pandas_udf(LongType())
def fingerprint64_udf(text: pd.Series) -> pd.Series:
    return text.map(fingerprint64).astype("Int64")


@F.arrow_udf(
    StructType(
        [
            StructField("text", StringType()),
            StructField("lang", StringType()),
        ]
    )
)
def extract_text_lang_udf(html: pa.Array) -> pa.Array:
    """Fused html -> (text, lang) in ONE Arrow crossing.

    ``tag_lang(extract_text(html))`` as separate pandas UDFs plans two
    ArrowEvalPython nodes: the html payload crosses to Python, text
    comes back, then the text column crosses AGAIN for lang — twice the
    Arrow serialization, twice the per-task Python worker setup, and an
    extra JVM-side row materialization between the nodes (measured on
    the CDC merge stage: ~490 MB sent / 216 MB returned per 2M-event
    batch, with worker setup dominating task run time).  Computing both
    in one struct-returning UDF sends html once, returns (text, lang)
    once, and reuses the just-extracted text in-process.  Outputs are
    byte-identical to the unfused chain by construction (same kernel,
    same order).
    """
    return text_arrow.extract_text_lang(html)
