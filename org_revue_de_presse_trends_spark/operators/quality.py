"""Document quality signals computed per row in Python.

The trained quality classifier is ``operators/classifier.py``
(bit-deterministic training, a DuckDB-oracled AUC query, and
``prepare-corpus --classifier-model``).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame


def compression_signals(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id_col, raw_len, zlib_len, compression_ratio): per-document
    zlib compression ratio — the RedPajama-v2 quality signal
    (ccnet_* family): highly compressible text is repetitive
    boilerplate, incompressible text is often junk/binary; natural
    prose sits in a mid band.

    Arrow-batched map stage (mapInPandas + stdlib zlib, level 6 —
    pinned so the ratio is a pure function of the text): no shuffle,
    no external deps.  ratio = deflated/raw, exact integer division
    in doubles."""
    import zlib

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # NULL text → empty string; empty docs get a NULL ratio
            # (0/0 is undefined, and Infinity would poison downstream
            # mid-band filters — review finding)
            raw = pdf[text_col].fillna("").str.encode("utf-8")
            zl = raw.map(lambda b: len(zlib.compress(b, 6)))
            rl = raw.map(len)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "raw_len": rl,
                    "zlib_len": zl,
                    "compression_ratio": [
                        z / r if r else None for z, r in zip(zl, rl)
                    ],
                }
            )

    return docs.select(id_col, text_col).mapInPandas(
        gen, "id long, raw_len long, zlib_len long, compression_ratio double"
    ).withColumnRenamed("id", id_col)
