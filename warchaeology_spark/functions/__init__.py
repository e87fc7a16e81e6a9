"""Scalar function layer (SURVEY.md §2.I).

Everything here is a *Column-in, Column-out* builder over builtin
``pyspark.sql.functions`` (JVM-side, whole-stage-codegen) unless the
semantics genuinely require Python — then it is an Arrow-batched pandas
UDF, never a row-at-a-time Python UDF.
"""

from warchaeology_spark.functions.strings import (  # noqa: F401
    crop_string,
    pad_field,
    normalize_record_id,
    parse_size_in_bytes,
)
from warchaeology_spark.functions.dates import (  # noqa: F401
    to14,
    from14,
    to_w3cdtf,
    parse_http_date,
)
from warchaeology_spark.functions.digests import payload_digest_or_computed  # noqa: F401
from warchaeology_spark.functions.urls import (  # noqa: F401
    canonicalize_url,
    surt_key,
    xxhash64_py,
)
