"""Arrow-batched pandas UDFs wrapping the pure-Python kernels.

These are the ONLY Python-side operators in the pipeline (per the
BASELINE.json north rule: vectorized pandas/Arrow UDFs, no per-row
Python).  Each UDF receives a whole Arrow batch as a pandas Series and
applies the kernel per batch; data crosses the JVM<->Python boundary once
per batch, never per row.

Everything that IS expressible as a built-in column expression lives in
``columns.py`` instead - UDFs are the slow path and are reserved for the
genuinely imperative kernels: the chunk-backtracking sentenizer (only
for documents over CHUNK_SIZE) and HTML-to-text conversion.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from ..kernels import sentenize as K_sentenize
from ..kernels import text as K_text


@F.pandas_udf(ArrayType(StringType()))
def _sentenize_udf(content: pd.Series) -> pd.Series:
    """document text -> array of sentences (chunk -> TOC-clean -> punkt
    boundary split; reference models/document.py:86-200)."""
    return content.apply(
        lambda t: K_sentenize.sentenize_document(t) if t is not None else []
    )


@F.pandas_udf(StringType())
def _html_to_text_udf(html: pd.Series) -> pd.Series:
    """HTML -> text (reference models/document.py:115-121)."""
    return html.apply(lambda h: K_text.html_to_text(h) if h is not None else "")


# All kernels ARE deterministic, but we register them as nondeterministic
# on purpose: it stops Catalyst from duplicating the Python call when a
# filter on the UDF's output is pushed through the defining projection
# (observed: a langid UDF evaluated TWICE per row - one ArrowEvalPython
# for the pushed filter, another for the output columns).  One Python pass
# per batch is worth more than filter pushdown into the Arrow channel.
sentenize_udf = _sentenize_udf.asNondeterministic()
html_to_text_udf = _html_to_text_udf.asNondeterministic()
