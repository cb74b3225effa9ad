"""The Python escape hatch (SURVEY §2.10): the engine needs ZERO
Python UDFs for reference parity — every parity expression is a JVM
built-in — but a real workload eventually wants custom Python (model
scoring, tokenizers).  Policy:

- row-at-a-time ``F.udf`` is banned in this codebase (10-100× slower);
- escape hatches are Arrow-batched ``@pandas_udf`` (scalar) or
  ``mapInPandas`` (see operators/multimodal.py) only;
- a pandas UDF exists only where Spark has no built-in for the job,
  and is checked cross-engine (``nfc_normalize_pandas`` backs
  q:doc_nfc_normalization, oracled against DuckDB's nfc_normalize).

UDFs are exposed as factories (the @pandas_udf decorator parses its
DDL return type against the active session, so construction is lazy).
"""

import pandas as pd
from pyspark.sql.functions import pandas_udf


def nfc_normalize_pandas():
    """Unicode NFC canonical normalization (UAX #15) over Arrow
    batches — combining sequences compose to their canonical
    precomposed forms ('a' + U+0301 → 'á').  Spark has no built-in
    normalizer, so this is a GENUINE escape-hatch member (not a twin):
    unicodedata implements the same Unicode standard DuckDB's
    nfc_normalize does, which is what lets q:doc_nfc_normalization be
    oracled cross-engine."""

    @pandas_udf("string")
    def _nfc(texts: pd.Series) -> pd.Series:
        import unicodedata

        return texts.map(
            lambda t: None
            if t is None
            else unicodedata.normalize("NFC", t)
        )

    return _nfc
