"""SQL text for the parsed-SQL constructions — the one place that turns
column names and Python values into Spark SQL source.

Several operators build a large expression (an unrolled dot product, a
50-cell histogram, a chain of BPE merge folds) as one SQL string and
parse it with ``F.expr``: one py4j round trip instead of hundreds of
Column-API calls.  The text they splice follows three rules, so the
parsed tree never depends on a column's name or on the session's parser
confs:

- **Names only.**  :func:`ident` backtick-quotes a column name (backticks
  doubled); expression text is never spliced.  A caller that needs an
  expression first projects it under an internal name and refers to
  that name.  A name is the column's name as ``DataFrame.columns`` spells
  it, not an attribute path; :func:`col` is the Column for such a name.
- **Reserved lambda variables.**  SQL lambdas bind ``__fs_``-prefixed
  variables (``__fs_i``, ``__fs_acc``, ...), so a column named ``i`` or
  ``acc`` is never captured by a lambda.
- **One literal rule** (:func:`lit`), correct whether or not
  ``spark.sql.parser.escapedStringLiterals`` is set, without reading it.
"""

from __future__ import annotations

import math
import numbers

from pyspark.sql import Column
from pyspark.sql import functions as F


def ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def col(name: str) -> Column:
    """The column named ``name`` (quoted, so spaces, dots, backticks and
    reserved words are all just characters of the name)."""
    return F.col(ident(name))


def lit(v: str | int | float) -> str:
    """A SQL literal for ``v`` that reads back as ``v`` in both parser
    modes:

    - a string with no ``'`` or ``\\`` is quoted as is; any other string
      is spelled as its UTF-8 bytes (``CAST(X'…' AS STRING)``), since the
      two modes disagree on what ``\\`` and ``''`` mean inside quotes;
    - an int is its decimal digits;
    - a finite float is ``repr(v)`` with the ``D`` suffix (shortest
      round-trip digits, a DOUBLE literal like ``F.lit(v)``); NaN and
      ±inf are casts from their string names.
    """
    if isinstance(v, str):
        if "'" not in v and "\\" not in v:
            return f"'{v}'"
        return f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)"
    if isinstance(v, numbers.Integral):
        return str(int(v))
    if isinstance(v, numbers.Real):
        v = float(v)
        if math.isfinite(v):
            return repr(v) + "D"
        name = "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
        return f"CAST('{name}' AS DOUBLE)"
    raise TypeError(f"no SQL literal rule for {type(v).__name__}: {v!r}")
