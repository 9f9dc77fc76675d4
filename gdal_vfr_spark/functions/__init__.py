"""Scalar-function layer (SURVEY.md §2.7) + shared text canonicalization.

Everything here is built-in `pyspark.sql.functions` composition — JVM
side, inside whole-stage codegen. The DuckDB-oracle equivalents in
`duck_sql.py` mirror these expressions 1:1 (same tokenizer
regex, same md5-based hashing, same fold order), which is what makes
the driver's value-hash comparison exact.
"""

from gdal_vfr_spark.functions.text_expr import (  # noqa: F401
    tokens_expr,
    shingles_expr,
    band_keys_expr,
)
from gdal_vfr_spark.functions.urls import (  # noqa: F401
    host_expr,
    registered_domain_expr,
    with_url_parts,
    domain_stats,
    cap_per_domain,
)
