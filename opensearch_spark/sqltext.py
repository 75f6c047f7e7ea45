"""Request constants rendered as Spark SQL text.

Plan build goes through py4j: every ``F.lit``/``F.col``/operator node of
a Column tree is at least one driver<->JVM round trip, while one SQL
string is parsed JVM-side in a single call.  The scoring plans are
therefore written as SQL text (``selectExpr`` / ``F.expr``), and these
helpers render Python constants into it so that each parses back to
exactly the value given, whatever the session config:

- doubles carry a ``D`` suffix (an unsuffixed ``1.2`` is a DECIMAL
  literal in Spark SQL, which would change the arithmetic before the
  float32 narrowing); ``repr`` is the shortest round-trip form, so the
  parsed double is bit-identical;
- strings outside a plain identifier alphabet are hex-encoded UTF-8
  (``CAST(X'..' AS STRING)``): backslash escapes depend on
  ``spark.sql.parser.escapedStringLiterals`` and Spark SQL has no
  quote-doubling, a hex literal has neither problem and cannot inject.

A :class:`Relation` is a table expression in that text plus the
DataFrames it reads through request-scoped temp views; :func:`run`
turns it into a DataFrame with one ``spark.sql`` call.
"""

from __future__ import annotations

import itertools
import math
import re
from typing import TYPE_CHECKING, Mapping, NamedTuple, Optional, Tuple

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

_PLAIN = re.compile(r"[0-9A-Za-z_]*")


def double(x: float) -> str:
    """A DOUBLE literal equal to ``float(x)``."""
    x = float(x)
    if not math.isfinite(x):
        name = "NaN" if math.isnan(x) else ("-Infinity" if x < 0 else "Infinity")
        return f"CAST('{name}' AS DOUBLE)"
    r = repr(x)
    return f"({r}D)" if r.startswith("-") else f"{r}D"


def string(s: str) -> str:
    """A STRING literal equal to ``s``, independent of parser settings."""
    if _PLAIN.fullmatch(s):
        return f"'{s}'"
    return f"CAST(X'{s.encode('utf-8').hex()}' AS STRING)"


def ident(name: str) -> str:
    """A quoted column reference: dots and other characters stay literal."""
    return "`" + name.replace("`", "``") + "`"


def map_lookup(col: str, values: Mapping[str, str]) -> str:
    """``map(<key>, <value>, ...)[<col>]`` over string keys, NULL for a
    key not in the map; ``values`` maps each key to the SQL text of its
    value.  The constant map folds to one literal that generated code
    holds as a referenced object, so the code text, and with it the
    compiled class, does not depend on the keys or values."""
    entries = ", ".join(f"{string(k)}, {v}" for k, v in values.items())
    return f"map({entries})[{col}]"


_DECIMAL = re.compile(r"[#0][#,0]*(\.[0#]*)?|\.[0#]+")


def decimal_pattern(fmt: str) -> Optional[Tuple[str, int, str]]:
    """DecimalFormat subset: the numeric subpattern (``#``/``0`` digits,
    ``,`` grouping marks, an optional ``.`` fraction of ``0``/``#``)
    renders the value with as many fraction digits as the fraction has
    marks; literal text around it passes through.  Returns
    ``(prefix, fraction_digits, suffix)``, or None for a pattern with no
    numeric subpattern (a date pattern)."""
    m = _DECIMAL.search(fmt)
    if not m:
        return None
    return fmt[: m.start()], len(m.group(0).partition(".")[2]), fmt[m.end():]


_REQUEST_VIEWS = itertools.count()


class Relation(NamedTuple):
    """A table expression (a view name or a parenthesized query) and
    the request-scoped views it reads: ``(name, DataFrame)`` pairs that
    :func:`run` registers for the one statement and drops after it."""

    sql: str
    frames: Tuple[Tuple[str, "DataFrame"], ...] = ()

    @classmethod
    def of(cls, df: "DataFrame") -> "Relation":
        """A DataFrame as a relation: a fresh request view over it."""
        name = f"_osreq{next(_REQUEST_VIEWS)}"
        return cls(name, ((name, df),))

    def query(self, sql: str, *others: "Relation") -> "Relation":
        """The relation of the query ``sql`` (which reads this relation
        and ``others``), carrying all of their views."""
        frames = self.frames + tuple(f for o in others for f in o.frames)
        return Relation(f"({sql})", frames)


def run(spark: "SparkSession", rel: Relation, args: Optional[dict] = None) -> "DataFrame":
    """``SELECT * FROM <rel>`` as a DataFrame: one parse and one analysis
    for the whole relation.  ``args`` binds named parameter markers
    (``:name``) with the value semantics of ``F.lit``.  Request views
    are dropped once the statement is analyzed (the DataFrame holds the
    resolved plan), with :func:`drop_views`."""
    for name, df in rel.frames:
        df.createOrReplaceTempView(name)
    try:
        return spark.sql(f"SELECT * FROM {rel.sql}", args)
    finally:
        drop_views(spark, [name for name, _ in rel.frames])


def drop_views(spark: "SparkSession", names) -> None:
    """Drop the temp views ``names`` without touching the cache.  The
    public ``Catalog.dropTempView`` (and replacing a view) also uncaches
    every cached frame whose plan equals the view's, which would drop a
    pin that another view, or another handle on the same directory,
    still serves from."""
    if names:
        catalog = spark._jsparkSession.sessionState().catalog()
        for name in names:
            catalog.dropTempView(name)


def held_double(x: float, guard: str) -> str:
    """A DOUBLE equal to ``x`` on every row where the boolean SQL
    ``guard`` holds: the constant rides a map literal looked up by the
    row's guard, so it is not folded into the generated code, and a new
    value reuses the compiled class (see :func:`map_lookup`)."""
    return f"map(true, {double(x)})[{guard}]"
