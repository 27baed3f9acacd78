"""The one Arrow-batched row map behind every multimodal operator.

Each operator is a per-row numpy function over a few input columns whose
feature tuple comes back next to the row's key columns. This module owns
the ``mapInPandas`` boundary they all share: column pruning, the batch
loop, and the output-schema rule. Payloads (polygon points, image and
mask bytes) live and die inside the batch; only scalar features come
back — the SURVEY §1.1 "payload stays Arrow-side" contract.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def map_rows(
    df: DataFrame,
    keys: Sequence[str],
    inputs: Sequence[str],
    fields: Sequence[T.StructField],
    fn: Callable[..., tuple],
) -> DataFrame:
    """``keys`` + ``fields`` per row of ``df``, where ``fn(*inputs)``
    returns the row's feature tuple in ``fields`` order. Only the key and
    input columns cross the Arrow boundary, and the keys keep their input
    StructFields (name, type and nullability). A pure map: no shuffle,
    parallelism = input partitions."""
    keys, inputs = list(keys), list(inputs)
    names = [f.name for f in fields]
    schema = T.StructType([df.schema[k] for k in keys] + list(fields))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [fn(*row) for row in zip(*(pdf[c] for c in inputs))]
            f = pd.DataFrame(feats, columns=names, index=pdf.index)
            yield pd.concat([pdf[keys], f], axis=1)

    return df.select(*dict.fromkeys(keys + inputs)).mapInPandas(run, schema)
