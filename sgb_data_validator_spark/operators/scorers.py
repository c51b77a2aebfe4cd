"""Pluggable text-scorer slots for lang-ID and quality scoring.

The shipped defaults are the honest heuristic stand-ins
(operators/textanalysis.py: marker-set argmax, Gopher/C4-style integer
features) — fully native column expressions, oracle-checked. Real
deployments swap in model-backed scorers (fastText lang-ID, a BPE
tokenizer, a learned quality model) WITHOUT touching query code:

    from sgb_data_validator_spark.operators import scorers

    def fasttext_batch(texts: pd.Series) -> pd.Series:
        return pd.Series(model.predict(texts.tolist())[0]).str[9:]

    scorers.set_lang_scorer(scorers.batch_scorer(fasttext_batch))
    # ... every query that routes through scorers.lang_id() now uses it

A scorer is any ``Column -> Column`` callable. ``batch_scorer`` wraps a
per-batch pandas function (the natural shape for a loaded model) into
an Arrow-batched pandas UDF — the model runs once per ~10k-row batch on
the executor, never per row, and the rest of the plan stays native.
``scoped_*`` context managers make swaps test-safe.
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import Column

from sgb_data_validator_spark.operators import textanalysis as T

#: a scorer maps the text column to a result column (string lang code /
#: bigint score). Kept as a plain callable so both native expressions
#: and pandas UDFs fit.
Scorer = Callable[[Column], Column]

_active: dict[str, Scorer | None] = {"lang": None, "quality": None}


def lang_id(text: Column) -> Column:
    """The active lang-ID scorer (default: marker-set argmax)."""
    return (_active["lang"] or T.lang_id)(text)


def quality_score(text: Column) -> Column:
    """The active quality scorer (default: integer feature formula)."""
    return (_active["quality"] or T.quality_score)(text)


def set_lang_scorer(scorer: Scorer | None) -> None:
    """Install a lang-ID scorer process-wide; ``None`` restores the default."""
    _active["lang"] = scorer


@contextmanager
def scoped_lang_scorer(scorer: Scorer | None):
    prev = _active["lang"]
    _active["lang"] = scorer
    try:
        yield
    finally:
        _active["lang"] = prev


@contextmanager
def scoped_quality_scorer(scorer: Scorer | None):
    prev = _active["quality"]
    _active["quality"] = scorer
    try:
        yield
    finally:
        _active["quality"] = prev


def batch_scorer(fn: Callable, return_type: str = "string") -> Scorer:
    """Wrap a per-batch pandas function (``pd.Series -> pd.Series``)
    into an Arrow-batched pandas-UDF scorer — the drop-in shape for a
    loaded fastText / BPE / learned-quality model. The UDF is built
    lazily against the active session (PySpark 4 resolves return types
    at definition time)."""

    def scorer(text: Column) -> Column:
        from pyspark.sql.functions import pandas_udf

        return pandas_udf(fn, return_type)(text)

    return scorer
