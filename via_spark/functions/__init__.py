"""Column-expression library (all JVM-native, whole-stage-codegen friendly)."""

from via_spark.functions.embed import token_dim_sql  # noqa: F401
from via_spark.functions.simhash import (  # noqa: F401
    hamming_hex,
    simhash_hex,
    votes_to_hex,
)
from via_spark.functions.text import (  # noqa: F401
    INT_RE,
    IPV4_RE,
    UUID_RE,
    rhythm_hash,
    severity_number,
    template,
    tokens,
)
