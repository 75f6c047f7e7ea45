"""Aggregation framework — the reference's agg tree re-expressed as
native Spark aggregations (SURVEY.md §2.3-2.5).

This module owns every aggregation rule ONCE, as a Column builder:
field resolution (:func:`field_col`), bucket keys (:func:`terms_key`,
:func:`histogram_key`, :func:`date_key`), bucket conditions
(:func:`range_conds`, :func:`bucket_conds`), metric expressions and
their results (:func:`metric_cols`, :func:`metric_result`) and the
BucketOrder translation (:func:`bucket_order`).  The REST agg tree
(``restapi.run_aggs``) compiles onto these builders; the DataFrame
helpers below are thin wrappers over the same builders.

Every helper takes a (possibly query-filtered) DataFrame — the agg
context the reference evaluates per shard and reduces on the
coordinator; Spark's partial/final hash aggregation is exactly that
split (``SearchPhaseController.reducedQueryPhase``,
``InternalAggregation.reduce``), so each helper is a thin, semantics-
preserving mapping:

- bucket aggs return ``(key, doc_count, ...)`` rows ordered like the
  reference's bucket ordering (count desc, key asc for ``terms``);
- metric aggs return one row of named metric columns;
- pipeline aggs are window functions over the bucket series (they run
  in the reference's reduce phase — coordinator-side — which is
  precisely a window over the materialized buckets).

Exactness notes vs the reference, preserved deliberately:
- ``terms`` here is EXACT (Spark global agg) where the reference's
  per-shard top-N is approximate with ``doc_count_error_upper_bound``
  (``TermsAggregatorFactory.java:112-123``) — superset semantics.
- ``cardinality(exact=False)`` uses Spark's HLL++ — same sketch family
  as the reference (``HyperLogLogPlusPlus.java:70``, precision 14 ~
  rsd 0.01); exact=True gives the verifiable count.
- ``percentiles(exact=True)`` interpolates like numpy/SQL
  ``quantile_cont``; the reference's t-digest is approximate
  (``AbstractTDigestPercentilesAggregator.java``) — we expose
  ``exact=False`` -> ``percentile_approx`` as the scale path.
"""

from __future__ import annotations

import ipaddress
from typing import Callable, Dict, List, Optional, Sequence, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opensearch_spark import sqltext

# ----------------------------------------------------- column builders

# date_histogram calendar intervals (DateHistogramAggregationBuilder
# DATE_FIELD_UNITS) -> bucket unit
_CALENDAR_UNITS = {
    "second": "second", "1s": "second", "minute": "minute", "1m": "minute",
    "hour": "hour", "1h": "hour", "day": "day", "1d": "day",
    "week": "week", "1w": "week", "month": "month", "1M": "month",
    "quarter": "quarter", "1q": "quarter", "year": "year", "1y": "year",
}
_DAY_US = 86_400_000_000
_FIXED_US = {"second": 1_000_000, "minute": 60_000_000,
             "hour": 3_600_000_000, "day": _DAY_US}
_EPOCH_NTZ = "TIMESTAMP_NTZ'1970-01-01 00:00:00'"
_DEFAULT_PERCENTS = (1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0)
_STATS = ("count", "min", "max", "sum", "avg")
_EXTENDED_STATS = _STATS + ("variance", "std_deviation")
_AGG_FNS = {"count": F.count, "min": F.min, "max": F.max, "sum": F.sum,
            "avg": F.avg, "variance": F.var_pop,
            "std_deviation": F.stddev_pop}


def field_col(df: DataFrame, field: str) -> Column:
    """The input Column of an agg on ``field`` (ValuesSourceConfig
    resolution): the literal column, then the ``__dot__`` multi-field
    column (mapping.typed_frame), then a dotted path through struct
    columns.  An unmapped field aggregates as nulls, like the
    reference's unmapped ValuesSource."""
    names = df.columns
    if field in names:
        return F.col(sqltext.ident(field))
    mangled = field.replace(".", "__dot__")
    if mangled in names:
        return F.col(sqltext.ident(mangled))
    head, *path = field.split(".")
    if path and head in names:
        dtype, col = df.schema[head].dataType, F.col(sqltext.ident(head))
        for p in path:
            if not isinstance(dtype, T.StructType) or p not in dtype.names:
                break
            dtype, col = dtype[p].dataType, col.getField(p)
        else:
            return col
    return F.lit(None).cast("double")


def bucket_count(cond: Column) -> Column:
    """Docs matching ``cond``, as one conditional aggregate."""
    return F.count(F.when(cond, 1))


def bucket_window(parts: Sequence[Column]) -> Window:
    """The window over each bucket (rows sharing ``parts``; the whole
    frame when there are none): per-bucket top-k and totals."""
    return Window.partitionBy(*parts) if parts else Window.partitionBy(F.lit(1))


def terms_key(c: Column, missing=None) -> Column:
    """``terms`` key: the value, or ``missing`` for docs without one
    (ValuesSourceAggregationBuilder ``missing``)."""
    return c if missing is None else F.coalesce(c, F.lit(missing))


def histogram_key(c: Column, interval: float) -> Column:
    """``histogram`` key (HistogramAggregationBuilder):
    ``floor(v / interval) * interval`` as a double."""
    interval = float(interval)
    return (F.floor(c.cast("double") / F.lit(interval)) * F.lit(interval)).cast("double")


def _epoch_micros(df: DataFrame, c: Column) -> Column:
    """Epoch micros of a date value, read the same under any session
    time zone: date_nanos columns hold epoch nanos, TIMESTAMP_NTZ and
    DATE values are UTC wall clocks."""
    dtype = df.select(c).schema.fields[0].dataType
    if isinstance(dtype, T.DecimalType):
        return F.floor(c / F.lit(1000)).cast("long")
    if isinstance(dtype, (T.TimestampNTZType, T.DateType)):
        return F.timestamp_diff("MICROSECOND", F.expr(_EPOCH_NTZ), c.cast("timestamp_ntz"))
    return F.unix_micros(c.cast("timestamp"))


def date_key(df: DataFrame, c: Column, interval: str) -> Column:
    """``date_histogram`` key (DateHistogramAggregator.java): epoch
    millis of the start of the UTC calendar bucket holding the value.
    Fixed units floor the epoch micros; week/month/quarter/year
    truncate the UTC date.  No step reads the session time zone."""
    unit = _CALENDAR_UNITS.get(interval)
    if unit is None:
        raise NotImplementedError(
            f"date_histogram interval {interval!r} (calendar units "
            f"{sorted(set(_CALENDAR_UNITS.values()))} supported)"
        )
    us = _epoch_micros(df, c)
    if unit in _FIXED_US:
        start = us - F.pmod(us, F.lit(_FIXED_US[unit]))
    else:
        day = ((us - F.pmod(us, F.lit(_DAY_US))) / F.lit(_DAY_US)).cast("int")
        start = (F.unix_date(F.trunc(F.date_from_unix_date(day), unit)).cast("long")
                 * F.lit(_DAY_US))
    return (start / F.lit(1000)).cast("long")


def range_conds(kind: str, c: Column, ranges: Sequence[dict]) -> List[Tuple[str, Column, dict]]:
    """``[from, to)`` buckets of ``range`` / ``date_range`` / ``ip_range``
    / ``geo_distance`` (RangeAggregator.java and its date / IP / distance
    variants) over the value Column ``c`` (the distance in km for
    geo_distance).  ``ranges`` are request dicts (``from``, ``to``,
    ``key``; ip_range also takes a CIDR ``mask``).  Returns
    ``[(key, condition, response extras)]`` in request order; a doc
    without a value is in no bucket."""
    if kind == "date_range":
        v, bound = F.to_timestamp(c), lambda b: F.to_timestamp(F.lit(b))
    elif kind == "ip_range":
        v, bound = ip_to_long(c), lambda b: ip_to_long(F.lit(b))
    else:
        v, bound = c.cast("double"), lambda b: F.lit(float(b))
    numeric = kind in ("range", "geo_distance")
    out = []
    for r in ranges:
        cond, extras = v.isNotNull(), {}
        if "mask" in r:  # CIDR -> [network, network + span)
            base, bits = r["mask"].split("/")
            span = 1 << (32 - int(bits))
            net = int(ipaddress.IPv4Address(base)) & ~(span - 1)
            out.append((r.get("key") or r["mask"],
                        cond & (v >= net) & (v < net + span), {"mask": r["mask"]}))
            continue
        lo, hi = r.get("from"), r.get("to")
        for name, b, op in (("from", lo, Column.__ge__), ("to", hi, Column.__lt__)):
            if b is not None:
                cond = cond & op(v, bound(b))
                extras[name] = float(b) if numeric else b
        key = r.get("key") or f"{'*' if lo is None else lo}-{'*' if hi is None else hi}"
        out.append((key, cond, extras))
    return out


def bucket_conds(kind: str, spec: dict, df: DataFrame,
                 predicate: Callable[[dict], Column]) -> List[Tuple[str, Column, dict]]:
    """A selector agg's buckets as ``[(key, condition, response
    extras)]``: ``filter`` / ``filters`` (query dicts through
    ``predicate``), ``missing``, and the range family."""
    if kind == "filter":
        return [("", predicate(spec), {})]
    if kind == "filters":
        return [(n, predicate(q), {}) for n, q in spec["filters"].items()]
    if kind == "missing":
        return [("", field_col(df, spec["field"]).isNull(), {})]
    if kind == "geo_distance":
        from opensearch_spark.query.executor import _geo_col_names, _haversine_km

        lat, lon = (field_col(df, n) for n in _geo_col_names(spec["field"]))
        o = spec["origin"]
        c = _haversine_km(lat, lon, float(o["lat"]), float(o["lon"]))
    else:
        c = field_col(df, spec["field"])
    return range_conds(kind, c, spec["ranges"])


def bucket_key(kind: str, spec: dict, df: DataFrame) -> Tuple[Column, Optional[Column]]:
    """A keyed agg's (key Column, not-null guard or None) for ``terms``
    / ``histogram`` / ``date_histogram`` request specs."""
    c = field_col(df, spec["field"])
    if kind == "terms":
        missing = spec.get("missing")
        return terms_key(c, missing), c.isNotNull() if missing is None else None
    if kind == "histogram":
        return histogram_key(c, spec["interval"]), c.isNotNull()
    interval = spec.get("calendar_interval") or spec.get("interval")
    return date_key(df, c, interval), c.isNotNull()


def metric_cols(kind: str, c: Column, arg=None) -> List[Tuple[object, Column]]:
    """``[(part, aggregate Column)]`` of one metric agg over ``c`` — the
    one copy of the 10 metric rules.  ``arg`` is the weight Column of
    ``weighted_avg`` or the percents of ``percentiles``.  Cardinality is
    the exact distinct count (``cardinality(exact=False)`` is the HLL++
    scale path)."""
    if kind == "weighted_avg":
        v, w = c.cast("double"), arg.cast("double")
        return [("value", F.sum(v * w) / F.sum(w))]
    if kind == "value_count":
        return [("value", F.count(c))]
    if kind == "cardinality":
        return [("value", F.count_distinct(c))]
    if kind == "percentiles":
        return [(p, F.percentile(c, F.lit(p / 100.0))) for p in arg or _DEFAULT_PERCENTS]
    d = c.cast("double")
    if kind in ("avg", "sum", "min", "max"):
        return [("value", _AGG_FNS[kind](d))]
    if kind in ("stats", "extended_stats"):
        return [(p, _AGG_FNS[p](d)) for p in (_STATS if kind == "stats" else _EXTENDED_STATS)]
    raise NotImplementedError(f"metric agg {kind!r}")


def metric_result(kind: str, row, prefix: str, percents=None) -> dict:
    """The response object of a metric agg whose :func:`metric_cols`
    parts were aliased ``{prefix}:{part}``."""
    get = lambda part: row[f"{prefix}:{part}"]  # noqa: E731
    if kind == "percentiles":
        return {"values": {f"{float(p):.1f}": get(p) for p in percents or _DEFAULT_PERCENTS}}
    if kind in ("stats", "extended_stats"):
        return {p: get(p) for p in (_STATS if kind == "stats" else _EXTENDED_STATS)}
    return {"value": get("value")}


def bucket_order(order: Sequence[Tuple[str, bool]],
                 sub_col: Callable[[str], Optional[str]], key: str = "key") -> List[Column]:
    """BucketOrder (BucketOrder.java:63-116) as sort Columns: ``order``
    is a compound ``[(path, asc)]`` where path is ``_count``, ``_key``
    (``_time``, the 6.x date_histogram spelling) or a sub-aggregation
    path that ``sub_col`` maps to its column.  The ``key asc``
    tie-break TermsAggregationBuilder.java:138 appends closes the
    list."""
    cols = []
    for path, asc in order:
        name = ("doc_count" if path == "_count" else
                key if path in ("_key", "_time") else sub_col(path))
        if name is None:
            raise ValueError(f"order path {path!r} is not a sub-aggregation")
        cols.append(F.asc(name) if asc else F.desc(name))
    return cols + [F.asc(key)]


def after_cond(keys: Sequence[Column], after: Sequence) -> Column:
    """Keyset pagination of ``composite`` (CompositeAggregator.java):
    bucket key tuples strictly after ``after``."""
    cond, eq = F.lit(False), F.lit(True)
    for c, v in zip(keys, after):
        cond = cond | (eq & (c > F.lit(v)))
        eq = eq & (c == F.lit(v))
    return cond


def _count_buckets(df: DataFrame, buckets: Sequence[Tuple[str, Column]]) -> DataFrame:
    """One conditional-count pass over ``[(key, condition)]``, melted to
    ``(key, doc_count)`` rows in bucket order (empty buckets kept with
    count 0, like the reference)."""
    row = df.agg(*[bucket_count(c).alias(f"_b{i}") for i, (_k, c) in enumerate(buckets)])
    stack = ", ".join(f"{sqltext.string(str(k))}, _b{i}" for i, (k, _c) in enumerate(buckets))
    return row.selectExpr(f"stack({len(buckets)}, {stack}) as (key, doc_count)")


def _count_by(df: DataFrame, key: Column) -> DataFrame:
    """Doc count per bucket ``key``."""
    return df.groupBy(key.alias("key")).agg(F.count(F.lit(1)).alias("doc_count"))


def _range_buckets(df: DataFrame, kind: str, c: Column, ranges) -> DataFrame:
    conds = range_conds(kind, c, [{"from": lo, "to": hi} for lo, hi in ranges])
    return _count_buckets(df, [(k, cond) for k, cond, _x in conds])


# ------------------------------------------------------------- bucket


def terms(
    df: DataFrame,
    field: str,
    size: int = 10,
    order_by_key: bool = False,
    min_doc_count: int = 1,
    missing=None,
) -> DataFrame:
    """``terms`` bucket agg (``TermsAggregationBuilder.java:81-86``):
    top ``size`` buckets by doc count desc, key asc tie-break (the
    reference's default ordering).

    ``min_doc_count`` (default 1, the reference's) drops buckets below
    the threshold AFTER counting; ``missing`` substitutes a bucket key
    for docs without the field (ValuesSourceAggregationBuilder
    ``missing``), and when unset such docs are simply not bucketed —
    both exactly the reference's semantics."""
    c = field_col(df, field)
    if missing is None:
        df = df.filter(c.isNotNull())
    out = _count_by(df, terms_key(c, missing))
    if min_doc_count > 1:
        out = out.filter(F.col("doc_count") >= int(min_doc_count))
    order = [] if order_by_key else [("_count", False)]
    return out.orderBy(*bucket_order(order, {}.get)).limit(size)


def terms_tree(
    df: DataFrame,
    field: str,
    metrics: Dict[str, Column],
    size: int = 10,
    order: Optional[Sequence[Tuple[str, bool]]] = None,
) -> DataFrame:
    """Aggregation TREE: a ``terms`` bucket agg with nested metric
    sub-aggregations computed in the same grouped pass (the reference's
    agg-tree = sub-aggs collected per bucket, SURVEY.md §2.4; Spark's
    one groupBy with many aggregate expressions is the partial+final
    reduce of the whole tree at once).

    ``order`` is the reference's ``BucketOrder`` (TermsAggregationBuilder
    ``order`` param / BucketOrder.java:63-116): a compound list of
    ``(path, asc)`` where path is ``"_count"``, ``"_key"`` or a
    sub-aggregation name from ``metrics`` (dotted ``agg.metric`` paths
    arrive here already flattened to the output alias).  A ``key asc``
    tie-breaker is appended automatically, exactly as
    TermsAggregationBuilder.java:138 does.  Default: count desc.

    Scale note: ordering by a sub-aggregation forces the full bucket
    set to be aggregated before top-``size`` selection — the same
    cost the reference pays (order-by-agg disables its shard_size
    short-circuit and makes doc_count_error unbounded); Spark compiles
    the orderBy+limit into TakeOrderedAndProject after the hash
    aggregate, so no global sort materializes."""
    aggs_ = [F.count(F.lit(1)).alias("doc_count")] + [
        expr.alias(name) for name, expr in metrics.items()
    ]
    sort_cols = bucket_order(
        [("_count", False)] if order is None else order,
        {m: m for m in metrics}.get,
    )
    return (
        df.groupBy(field_col(df, field).alias("key"))
        .agg(*aggs_)
        .orderBy(*sort_cols)
        .limit(size)
    )


def multi_terms(df: DataFrame, fields: Sequence[str], size: int = 10) -> DataFrame:
    """``multi_terms``: buckets keyed by a field tuple."""
    keys = [F.col(f).alias(f"key_{f}") for f in fields]
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.desc("doc_count"), *[F.asc(f"key_{f}") for f in fields])
        .limit(size)
    )


def terms_shard_model(
    df: DataFrame,
    field: str,
    shard_col: str,
    size: int = 10,
    shard_size: Optional[int] = None,
    n_shards: int = 8,
) -> Tuple[DataFrame, DataFrame]:
    """The reference's ACTUAL distributed ``terms`` agg — the two-phase
    shard model with its error accounting (``TermsAggregator.java``
    per-shard top ``shard_size``; merge + error bounds
    ``InternalTerms.java reduce``; ``shard_size`` default
    ``size * 1.5 + 10`` from ``TermsAggregatorFactory.java:112-123``):

    - phase 1: each shard (here ``pmod(shard_col, n_shards)`` — a
      deterministic stand-in for the reference's routing hash) returns
      its local top ``shard_size`` buckets by (count desc, key asc);
    - a shard's error contribution is the doc_count of its LAST
      returned bucket when it had more buckets than ``shard_size``
      (anything unreturned is bounded by it), else 0;
    - phase 2 merges returned buckets by key; a merged bucket's
      ``doc_count_error`` is the sum of error contributions of shards
      that did NOT return it (its count from those shards is unknown
      but bounded); the agg-level ``doc_count_error_upper_bound`` is
      the sum over ALL shards;
    - ``sum_other_doc_count`` = docs not covered by the final buckets:
      per-shard unreturned remainders + merged buckets trimmed by the
      final ``size`` cut.

    The default :func:`terms` stays EXACT (Spark's global agg makes the
    one-phase answer free — superset semantics); this op exists for
    semantics parity and because at 100 TB the per-shard-top-N +
    error-bound contract is what a reference user actually consumes.
    Everything here is Catalyst over the pre-aggregated (shard, key)
    frame — the raw table is touched once.

    Returns ``(buckets, meta)``: buckets ``(key, doc_count,
    doc_count_error)`` top ``size``; meta one row
    ``(doc_count_error_upper_bound, sum_other_doc_count)``.
    """
    if shard_size is None:
        shard_size = int(size * 1.5 + 10)
    per = (
        df.select(
            F.pmod(F.col(shard_col), F.lit(n_shards)).alias("shard"),
            F.col(field).cast("string").alias("key"),
        )
        .groupBy("shard", "key")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("shard").orderBy(F.desc("cnt"), F.asc("key"))
    # the ranked (shard, key, cnt) frame is tiny (distinct keys x
    # shards) but feeds every downstream branch — materialize it once
    # so the 100 TB raw scan happens exactly once, not per branch
    ranked = per.withColumn("rn", F.row_number().over(w)).localCheckpoint(eager=False)
    in_top = F.col("rn") <= F.lit(shard_size)
    sstats = (
        ranked.groupBy("shard")
        .agg(
            F.sum("cnt").alias("total"),
            F.sum(F.when(in_top, F.col("cnt")).otherwise(F.lit(0))).alias("ret_sum"),
            F.count(F.lit(1)).alias("n_buckets"),
            F.min(F.when(in_top, F.col("cnt"))).alias("last_cnt"),
        )
        .withColumn(
            "err",
            F.when(
                F.col("n_buckets") > F.lit(shard_size), F.col("last_cnt")
            ).otherwise(F.lit(0)),
        )
        .withColumn("other", F.col("total") - F.col("ret_sum"))
    )
    tot = sstats.agg(
        F.sum("err").alias("total_err"), F.sum("other").alias("shard_other")
    )
    merged = (
        ranked.filter(in_top)
        .join(sstats.select("shard", "err"), "shard")
        .groupBy("key")
        .agg(
            F.sum("cnt").alias("doc_count"),
            F.sum("err").alias("err_covered"),
        )
        .localCheckpoint(eager=False)  # feeds buckets, mtot and ttot
    )
    buckets = (
        merged.crossJoin(F.broadcast(tot))
        .withColumn("doc_count_error", F.col("total_err") - F.col("err_covered"))
        .orderBy(F.desc("doc_count"), F.asc("key"))
        .limit(size)
        .select("key", "doc_count", "doc_count_error")
    )
    mtot = merged.agg(F.sum("doc_count").alias("merged_sum"))
    ttot = (
        merged.orderBy(F.desc("doc_count"), F.asc("key"))
        .limit(size)
        .agg(F.sum("doc_count").alias("top_sum"))
    )
    meta = (
        tot.crossJoin(F.broadcast(mtot))
        .crossJoin(F.broadcast(ttot))
        .select(
            F.col("total_err").alias("doc_count_error_upper_bound"),
            (F.col("shard_other") + F.col("merged_sum") - F.col("top_sum")).alias(
                "sum_other_doc_count"
            ),
        )
    )
    return buckets, meta


def rare_terms(df: DataFrame, field: str, max_doc_count: int = 1) -> DataFrame:
    """``rare_terms`` (``RareTermsAggregationBuilder.java``): buckets with
    doc_count <= threshold, key asc."""
    return (
        _count_by(df, field_col(df, field))
        .filter(F.col("doc_count") <= max_doc_count)
        .orderBy(F.asc("key"))
    )


def histogram(df: DataFrame, field: str, interval: float) -> DataFrame:
    """``histogram``: fixed-interval numeric buckets
    (``HistogramAggregationBuilder.java``); key = floor(v/i)*i."""
    return _count_by(df, histogram_key(field_col(df, field), interval)).orderBy(F.asc("key"))


def date_histogram(
    df: DataFrame, field: str, calendar_interval: str = "day"
) -> DataFrame:
    """``date_histogram`` with a calendar interval
    (``DateHistogramAggregator.java``); bucket key as the UTC
    ``yyyy-MM-dd HH:mm:ss`` string for engine-neutral comparison."""
    key = date_key(df, field_col(df, field), calendar_interval)
    # rendered as TIMESTAMP_NTZ: the session time zone never applies
    utc = F.timestamp_add("MILLISECOND", F.col("key"), F.expr(_EPOCH_NTZ))
    return _count_by(df, key).withColumn("key", utc.cast("string")).orderBy(F.asc("key"))


def range_agg(
    df: DataFrame, field: str, ranges: Sequence[Tuple[Optional[float], Optional[float]]]
) -> DataFrame:
    """``range`` agg (``RangeAggregationBuilder.java``): [from, to)
    buckets, docs can only land in one bucket per range entry; emits one
    row per range in definition order with its doc_count (empty ranges
    included, count 0 — reference keeps empty range buckets)."""
    return _range_buckets(df, "range", field_col(df, field), ranges)


def filter_agg(df: DataFrame, cond: Column) -> DataFrame:
    """``filter`` single-bucket agg (``FilterAggregationBuilder.java``):
    one bucket counting docs matching the predicate; sub-aggs run over
    the filtered frame (compose by aggregating ``df.filter(cond)``)."""
    return df.agg(bucket_count(cond).alias("doc_count"))


def filters_agg(df: DataFrame, named: Dict[str, Column]) -> DataFrame:
    """``filters`` agg (``FiltersAggregationBuilder.java``): one bucket
    per named predicate; docs may match several (conditional sums — no
    per-filter scans)."""
    return _count_buckets(df, list(named.items()))


def adjacency_matrix(df: DataFrame, named: Dict[str, Column]) -> DataFrame:
    """``adjacency_matrix`` (``AdjacencyMatrixAggregationBuilder.java``):
    doc counts for every filter and every pairwise intersection, one
    conditional-sum pass (keys ``a``, ``a&b`` like the reference)."""
    names = list(named)
    buckets = []
    for i, a in enumerate(names):
        buckets.append((a, named[a]))
        buckets += [(f"{a}&{b}", named[a] & named[b]) for b in names[i + 1 :]]
    return _count_buckets(df, buckets).filter(F.col("doc_count") > 0)


def auto_date_histogram(df: DataFrame, field: str, target_buckets: int = 10) -> DataFrame:
    """``auto_date_histogram`` (``AutoDateHistogramAggregationBuilder.java``):
    pick the coarsest calendar interval producing <= target buckets
    (second/minute/hour/day/month/year ladder), then bucket."""
    bounds = df.agg(
        F.min(field).alias("lo"), F.max(field).alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:
        return df.sparkSession.createDataFrame([], "key string, doc_count long")
    span_s = (bounds["hi"] - bounds["lo"]).total_seconds()
    for unit, secs in [
        ("second", 1), ("minute", 60), ("hour", 3600),
        ("day", 86400), ("month", 2592000), ("year", 31536000),
    ]:
        if span_s / secs <= target_buckets:
            break
    return date_histogram(df, field, unit).withColumn("interval", F.lit(unit))


def missing_agg(df: DataFrame, field: str) -> DataFrame:
    """``missing`` (``MissingAggregationBuilder.java``)."""
    return df.agg(bucket_count(field_col(df, field).isNull()).alias("doc_count"))


def composite(
    df: DataFrame,
    fields: Sequence[str],
    size: int = 10,
    after: Optional[Sequence] = None,
) -> DataFrame:
    """``composite`` agg (``CompositeAggregator.java``): key-ordered
    paginated buckets; ``after`` is the last key tuple of the previous
    page (keyset pagination — in Spark a filter on the sort tuple)."""
    keys = [F.col(sqltext.ident(f"key_{f}")) for f in fields]
    out = df.groupBy(
        *[field_col(df, f).alias(f"key_{f}") for f in fields]
    ).agg(F.count(F.lit(1)).alias("doc_count"))
    if after is not None:
        out = out.filter(after_cond(keys, after))
    return out.orderBy(*[k.asc() for k in keys]).limit(size)


def significant_terms(
    df: DataFrame, fg_cond: Column, field: str, size: int = 10, heuristic: str = "jlh"
) -> DataFrame:
    """``significant_terms`` (``SignificantTermsAggregationBuilder.java``):
    buckets over-represented in the foreground (query) set vs the
    background corpus.  Heuristics (``search/aggregations/bucket/terms/
    heuristic/``): ``jlh`` (default, ``JLHScore.java``:
    ``(fg% - bg%) * (fg% / bg%)``), ``chi_square``
    (``ChiSquare.java``, include_negatives=false semantics),
    ``mutual_information`` (``MutualInformation.java``), ``gnd``
    (``GND.java``, normalized Google distance)."""
    import math as _math

    fg = df.filter(fg_cond)
    fgc = fg.groupBy(F.col(field).alias("key")).agg(F.count(F.lit(1)).alias("fg_count"))
    bgc = df.groupBy(F.col(field).alias("key")).agg(F.count(F.lit(1)).alias("bg_count"))
    fg_total = float(fg.count())
    bg_total = float(df.count())
    j = fgc.join(bgc, "key")
    fg_pct = F.col("fg_count") / F.lit(fg_total)
    bg_pct = F.col("bg_count") / F.lit(bg_total)
    if heuristic == "chi_square":
        # (N * (ad - bc)^2) / ((a+b)(a+c)(b+d)(c+d)) over the 2x2 table
        a = F.col("fg_count").cast("double")
        b_ = (F.col("bg_count") - F.col("fg_count")).cast("double")
        c = F.lit(fg_total) - a
        d = F.lit(bg_total - fg_total) - b_
        n = F.lit(bg_total)
        score = (
            n * F.pow(a * d - b_ * c, F.lit(2.0))
            / ((a + b_) * (a + c) * (b_ + d) * (c + d))
        )
    elif heuristic == "mutual_information":
        # Full 4-term MI over the 2x2 (term presence x foreground
        # membership) contingency table (MutualInformation.java
        # getScore/getMITerm), with the reference's 0*log(0)=0 guard.
        n = F.lit(bg_total)
        n11 = F.col("fg_count").cast("double")  # term & fg
        n01 = (F.col("bg_count") - F.col("fg_count")).cast("double")  # term & !fg
        n10 = F.lit(fg_total) - n11  # !term & fg
        n00 = F.lit(bg_total - fg_total) - n01  # !term & !fg
        nt1 = F.col("bg_count").cast("double")  # term marginal
        nt0 = n - nt1
        nc1 = F.lit(fg_total)  # class (fg) marginal
        nc0 = F.lit(bg_total - fg_total)

        def _mi_term(nij, nt, nc):
            return F.when(
                nij > 0, (nij / n) * F.log2(n * nij / (nt * nc))
            ).otherwise(F.lit(0.0))

        score = (
            _mi_term(n11, nt1, nc1)
            + _mi_term(n01, nt1, nc0)
            + _mi_term(n10, nt0, nc1)
            + _mi_term(n00, nt0, nc0)
        )
    elif heuristic == "gnd":
        # normalized Google distance similarity (GND.java:113): the
        # reference returns exp(-dist) ("we must invert the order")
        # and short-circuits fxy==0 -> 0.0 and the perfect
        # co-occurrence case fx==fy==fxy -> 1.0 (zero denominator).
        fx = F.log(F.lit(fg_total))
        fy = F.log(F.col("bg_count").cast("double"))
        fxy = F.log(F.col("fg_count").cast("double"))
        logn = F.lit(_math.log(bg_total))
        dist = (F.greatest(fx, fy) - fxy) / (logn - F.least(fx, fy))
        score = (
            F.when(F.col("fg_count") == 0, F.lit(0.0))
            .when((fx == fy) & (fy == fxy), F.lit(1.0))
            .otherwise(F.exp(-dist))
        )
    else:  # jlh
        score = (fg_pct - bg_pct) * (fg_pct / bg_pct)
    # the shared fg_pct > bg_pct filter IS the reference's
    # include_negatives=false semantics (NXYSignificanceHeuristic.java:
    # score = -inf when N11/N_1 < N10/N_0): the overall rate is a
    # weighted mean of the fg rate and the complement rate, so
    # fg_rate > overall_rate <=> fg_rate > complement_rate —
    # foreground-depleted terms never surface for ANY heuristic
    return (
        j.withColumn("score", F.round(score.cast("double"), 6))
        .filter(fg_pct > bg_pct)
        .orderBy(F.desc("score"), F.asc("key"))
        .limit(size)
        .select("key", "fg_count", "bg_count", "score")
    )


# ------------------------------------------------------------- metric


_ROUND = {"min": 6, "max": 6, "sum": 4, "avg": 6, "variance": 4, "std_deviation": 6}


def _rounded_stats(df: DataFrame, kind: str, field: str, parts: Sequence[str]) -> DataFrame:
    cols = dict(metric_cols(kind, field_col(df, field)))
    return df.agg(*[
        (cols[p] if p == "count" else F.round(cols[p], _ROUND[p])).alias(p)
        for p in parts
    ])


def stats(df: DataFrame, field: str) -> DataFrame:
    """``stats`` (``StatsAggregator.java``): count/min/max/sum/avg.
    Sum in float64 (the reference uses Kahan compensation,
    ``CompensatedSum.java``; Spark's double sum matches to ulps at
    these magnitudes — documented tolerance)."""
    return _rounded_stats(df, "stats", field, _STATS)


def extended_stats(df: DataFrame, field: str) -> DataFrame:
    """``extended_stats`` (``ExtendedStatsAggregator.java``): population
    variance/std-dev like the reference."""
    return _rounded_stats(df, "extended_stats", field,
                          ("count", "sum", "avg", "variance", "std_deviation"))


def value_count(df: DataFrame, field: str) -> DataFrame:
    return df.agg(metric_cols("value_count", field_col(df, field))[0][1].alias("value_count"))


def weighted_avg(df: DataFrame, value: str, weight: str) -> DataFrame:
    """``weighted_avg`` (``InternalWeightedAvg.java``):
    sum(v*w)/sum(w)."""
    ((_v, wavg),) = metric_cols("weighted_avg", field_col(df, value), field_col(df, weight))
    return df.agg(F.round(wavg, 6).alias("weighted_avg"))


def cardinality(df: DataFrame, field: str, exact: bool = False, rsd: float = 0.01) -> DataFrame:
    """``cardinality`` (``CardinalityAggregator.java``): HLL++ approx
    distinct (precision 14 default ~ rsd 0.01) — same sketch family as
    the reference; ``exact=True`` for the verifiable count."""
    c = field_col(df, field)
    if exact:
        return df.agg(metric_cols("cardinality", c)[0][1].alias("cardinality"))
    return df.agg(F.approx_count_distinct(c, rsd).alias("cardinality"))


def percentiles(
    df: DataFrame, field: str, percents: Sequence[float] = (50.0, 95.0, 99.0), exact: bool = True
) -> DataFrame:
    """``percentiles``: exact linear-interpolation quantiles
    (verifiable against SQL ``quantile_cont``), or the sketch-based
    scale path (``percentile_approx``, the analog of the reference's
    t-digest)."""
    c = field_col(df, field)
    cols = (metric_cols("percentiles", c, percents) if exact else
            [(p, F.percentile_approx(c, p / 100.0)) for p in percents])
    return df.agg(*[
        F.round(e.cast("double"), 4).alias(f"p{str(p).replace('.', '_')}")
        for p, e in cols
    ])


def median_absolute_deviation(df: DataFrame, field: str) -> DataFrame:
    """``median_absolute_deviation``: median(|x - median(x)|), exact."""
    med = df.agg(F.expr(f"percentile({field}, 0.5)").alias("m")).collect()[0]["m"]
    return df.agg(
        F.round(
            F.expr(f"percentile(abs({field} - {float(med)}), 0.5)").cast("double"), 4
        ).alias("mad")
    )


def top_hits(
    df: DataFrame,
    bucket: str,
    sort_col: str,
    k: int = 3,
    ascending: bool = False,
    tie_col: Optional[str] = None,
) -> DataFrame:
    """``top_hits`` (``TopHitsAggregator.java``): per-bucket top-k by
    sort with deterministic tie-break."""
    order = [F.asc(sort_col) if ascending else F.desc(sort_col)]
    if tie_col:
        order.append(F.asc(tie_col))
    rank = F.row_number().over(bucket_window([F.col(bucket)]).orderBy(*order))
    return df.withColumn("rank", rank).filter(F.col("rank") <= k)


# ----------------------------------------------------------- pipeline


def derivative(buckets: DataFrame, key: str = "key", value: str = "doc_count") -> DataFrame:
    """``derivative`` (``DerivativePipelineAggregator.java``):
    value - lag(value) over the key-ordered bucket series."""
    w = Window.orderBy(F.asc(key))
    return buckets.withColumn(
        "derivative", (F.col(value) - F.lag(value).over(w)).cast("double")
    )


def cumulative_sum(buckets: DataFrame, key: str = "key", value: str = "doc_count") -> DataFrame:
    """``cumulative_sum`` (``CumulativeSumPipelineAggregator.java``)."""
    w = Window.orderBy(F.asc(key)).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return buckets.withColumn("cumulative_sum", F.sum(value).over(w).cast("double"))


def moving_avg(
    buckets: DataFrame, key: str = "key", value: str = "doc_count", window: int = 3
) -> DataFrame:
    """``moving_avg`` simple model (``MovAvgPipelineAggregator.java``):
    trailing window mean."""
    w = Window.orderBy(F.asc(key)).rowsBetween(-(window - 1), Window.currentRow)
    return buckets.withColumn(
        "moving_avg", F.round(F.avg(F.col(value).cast("double")).over(w), 6)
    )


def moving_fn(
    buckets: DataFrame,
    key: str = "key",
    value: str = "doc_count",
    window: int = 5,
    model: str = "ewma",
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.3,
    period: int = 7,
) -> DataFrame:
    """``moving_fn`` / ``moving_avg`` models (MovAvgPipelineAggregator.java:
    simple / min / max / sum / linear / ewma / holt / holt_winters) over
    the trailing window of the key-ordered bucket series.  The window
    values are gathered with ``collect_list`` over a rows-window and the
    model runs vectorized in a pandas UDF — the reduce-phase
    (coordinator-side) evaluation the reference does.  ``holt_winters``
    is additive triple exponential smoothing seeded from the first
    ``period`` values (returns null until 2 full periods are in the
    window, like the reference's minimum-data requirement)."""
    import numpy as np
    import pandas as pd

    w = Window.orderBy(F.asc(key)).rowsBetween(-(window - 1), Window.currentRow)

    def _model(vals: pd.Series) -> pd.Series:
        def one(xs):
            a = np.asarray(xs, dtype=np.float64)
            if a.size == 0:
                return None
            if model == "simple":
                return float(a.mean())
            if model == "min":
                return float(a.min())
            if model == "max":
                return float(a.max())
            if model == "sum":
                return float(a.sum())
            if model == "linear":
                wts = np.arange(1, a.size + 1, dtype=np.float64)
                return float((a * wts).sum() / wts.sum())
            if model == "holt":
                s, b = a[0], (a[1] - a[0]) if a.size > 1 else 0.0
                for x in a[1:]:
                    s_prev = s
                    s = alpha * x + (1 - alpha) * (s + b)
                    b = beta * (s - s_prev) + (1 - beta) * b
                return float(s)
            if model == "holt_winters":
                p = int(period)
                if a.size < 2 * p:
                    return None  # HoltWintersModel needs 2 full periods
                level = float(a[:p].mean())
                trend = float((a[p : 2 * p].mean() - a[:p].mean()) / p)
                seas = (a[:p] - level).astype(np.float64)
                for i in range(p, a.size):
                    x = a[i]
                    last_level = level
                    si = seas[i % p]
                    level = alpha * (x - si) + (1 - alpha) * (level + trend)
                    trend = beta * (level - last_level) + (1 - beta) * trend
                    seas[i % p] = gamma * (x - level) + (1 - gamma) * si
                return float(level + trend + seas[a.size % p])
            # ewma
            s = a[0]
            for x in a[1:]:
                s = alpha * x + (1 - alpha) * s
            return float(s)

        return vals.map(one)

    model_udf = F.pandas_udf(_model, "double")
    return buckets.withColumn(
        "moving_fn",
        F.round(model_udf(F.collect_list(F.col(value).cast("double")).over(w)), 6),
    )


def bucket_script(buckets: DataFrame, name: str, expr: Column) -> DataFrame:
    """``bucket_script`` (BucketScriptPipelineAggregator.java): per-bucket
    arithmetic as a plain projection."""
    return buckets.withColumn(name, expr)


def serial_diff(
    buckets: DataFrame, key: str = "key", value: str = "doc_count", lag: int = 1
) -> DataFrame:
    """``serial_diff`` (``SerialDiffPipelineAggregator.java``)."""
    w = Window.orderBy(F.asc(key))
    return buckets.withColumn(
        "serial_diff", (F.col(value) - F.lag(value, lag).over(w)).cast("double")
    )


def bucket_sort(
    buckets: DataFrame, sort_col: str, size: int, ascending: bool = False, tie_col: str = "key"
) -> DataFrame:
    """``bucket_sort`` (``BucketSortPipelineAggregator.java``)."""
    order = [F.asc(sort_col) if ascending else F.desc(sort_col), F.asc(tie_col)]
    return buckets.orderBy(*order).limit(size)


def bucket_selector(buckets: DataFrame, cond: Column) -> DataFrame:
    """``bucket_selector`` = HAVING (``BucketSelectorPipelineAggregator.java``)."""
    return buckets.filter(cond)


def avg_bucket(buckets: DataFrame, value: str = "doc_count") -> DataFrame:
    """``avg_bucket`` second-level metric over the bucket series."""
    return buckets.agg(F.round(F.avg(F.col(value).cast("double")), 6).alias("avg_bucket"))


def stats_bucket(buckets: DataFrame, value: str = "doc_count") -> DataFrame:
    """``stats_bucket`` / ``min/max/sum_bucket`` family
    (AvgBucketPipelineAggregator.java siblings)."""
    return _rounded_stats(buckets, "stats", value, _STATS)


def extended_stats_bucket(
    buckets: DataFrame, value: str = "doc_count", sigma: float = 2.0
) -> DataFrame:
    """``extended_stats_bucket``
    (ExtendedStatsBucketPipelineAggregationBuilder.java): the sibling
    series' extended stats — population variance (sum_sq/n - avg², the
    reference's InternalExtendedStats.getVariance) and sigma std
    bounds."""
    c = F.col(value).cast("double")
    raw = buckets.agg(
        F.count(c).alias("count"),
        F.min(c).alias("_min"),
        F.max(c).alias("_max"),
        F.sum(c).alias("_sum"),
        F.avg(c).alias("_avg"),
        F.sum(c * c).alias("_sum_sq"),
    )
    var = F.col("_sum_sq") / F.col("count") - F.col("_avg") * F.col("_avg")
    std = F.sqrt(var)
    return raw.select(
        F.col("count").cast("double").alias("count"),
        F.round(F.col("_min"), 6).alias("min"),
        F.round(F.col("_max"), 6).alias("max"),
        F.round(F.col("_sum"), 4).alias("sum"),
        F.round(F.col("_avg"), 6).alias("avg"),
        F.round(F.col("_sum_sq"), 4).alias("sum_of_squares"),
        F.round(var, 6).alias("variance"),
        F.round(std, 6).alias("std_deviation"),
        F.round(F.col("_avg") + F.lit(float(sigma)) * std, 6).alias("std_upper"),
        F.round(F.col("_avg") - F.lit(float(sigma)) * std, 6).alias("std_lower"),
    )


def percentiles_bucket(
    buckets: DataFrame, value: str = "doc_count", percents: Sequence[float] = (50, 95)
) -> DataFrame:
    """``percentiles_bucket``: exact quantiles over the bucket series."""
    return buckets.agg(*[
        F.round(e.cast("double"), 4).alias(f"p{int(p)}")
        for p, e in metric_cols("percentiles", field_col(buckets, value), percents)
    ])


# ------------------------------------------- round-2 breadth operators


def date_range_agg(
    df: DataFrame, field: str, ranges: Sequence[Tuple[Optional[str], Optional[str]]]
) -> DataFrame:
    """``date_range`` agg (``RangeAggregationBuilder.java`` date variant,
    ``DateRangeAggregationBuilder``): [from, to) buckets over a timestamp
    column, bounds as ISO strings; one conditional-sum pass like
    ``range_agg`` (empty buckets kept, count 0)."""
    return _range_buckets(df, "date_range", field_col(df, field), ranges)


def ip_to_long(col: Column) -> Column:
    """IPv4 -> uint32-as-long (the comparable form of the reference's
    16-byte IP points, ``IpFieldMapper.java``).  Accepts dotted-quad
    strings AND the canonical 32-hex v6-mapped storage an explicit
    ``ip`` mapping writes (low 32 bits when the ::ffff:0:0/96 marker
    is present); true IPv6 values stay NULL — the v4 CIDR arithmetic
    of ip_range does not apply to them."""
    part = lambda i: F.split(col, r"\.").getItem(i).cast("long")
    dotted = part(0) * 16777216 + part(1) * 65536 + part(2) * 256 + part(3)
    hex_v4 = F.conv(col.substr(25, 8), 16, 10).cast("long")
    return (
        F.when(col.contains("."), dotted)
        .when((F.length(col) == 32) & (col.substr(21, 4) == "ffff"), hex_v4)
    )


def ip_range_agg(
    df: DataFrame, field: str, ranges: Sequence[Tuple[Optional[str], Optional[str]]]
) -> DataFrame:
    """``ip_range`` agg (``IpRangeAggregationBuilder``): [from, to)
    buckets over a dotted-quad IPv4 string column, compared numerically."""
    return _range_buckets(df, "ip_range", field_col(df, field), ranges)


def variable_width_histogram(df: DataFrame, field: str, buckets: int = 5) -> DataFrame:
    """``variable_width_histogram``
    (``VariableWidthHistogramAggregationBuilder.java``): adaptive buckets
    sized to the data distribution.  The reference runs an online 1-D
    clustering per shard; we use equal-population quantile sharding
    (``ntile`` over the value order) — deterministic, one pass, and
    distribution-adaptive in the same sense (narrow buckets where data
    is dense).  Documented deviation: bucket boundaries are quantiles,
    not cluster centroids.  Emits (bucket, min, max, avg=key, doc_count)."""
    w = Window.orderBy(F.asc(field))
    c = F.col(field).cast("double")
    return (
        df.filter(F.col(field).isNotNull())
        .withColumn("_b", F.ntile(buckets).over(w))
        .groupBy(F.col("_b").alias("bucket"))
        .agg(
            F.round(F.min(c), 6).alias("min"),
            F.round(F.max(c), 6).alias("max"),
            F.round(F.avg(c), 6).alias("key"),
            F.count(F.lit(1)).alias("doc_count"),
        )
        .orderBy(F.asc("bucket"))
    )


def diversified_sampler(
    df: DataFrame,
    diversity_field: str,
    score_col: str,
    shard_size: int = 100,
    max_docs_per_value: int = 1,
    tie_col: Optional[str] = None,
) -> DataFrame:
    """``diversified_sampler`` (``DiversifiedAggregationBuilder.java``):
    the top-``shard_size`` sample by score, allowing at most
    ``max_docs_per_value`` docs per ``diversity_field`` value — a
    de-duplicated sampler.  Two windows: per-value rank to enforce the
    diversity cap, then global top-N."""
    order = [F.desc(score_col)] + ([F.asc(tie_col)] if tie_col else [])
    wv = Window.partitionBy(diversity_field).orderBy(*order)
    capped = (
        df.withColumn("_vr", F.row_number().over(wv))
        .filter(F.col("_vr") <= max_docs_per_value)
        .drop("_vr")
    )
    return capped.orderBy(*order).limit(shard_size)


def matrix_stats(df: DataFrame, fields: Sequence[str]) -> DataFrame:
    """``matrix_stats`` (``modules/aggs-matrix-stats/``): per-field-pair
    count / means / covariance / correlation in one aggregate pass
    (``F.covar_samp`` / ``F.corr`` match the reference's sample
    covariance).  Emits one row per unordered pair (field_a <= field_b)."""
    rows = []
    for i, a in enumerate(fields):
        for b_ in fields[i:]:
            ca, cb = F.col(a).cast("double"), F.col(b_).cast("double")
            rows.append(
                F.struct(
                    F.lit(a).alias("field_a"),
                    F.lit(b_).alias("field_b"),
                    F.count(F.when(ca.isNotNull() & cb.isNotNull(), 1)).alias("count"),
                    F.round(F.avg(ca), 6).alias("mean_a"),
                    F.round(F.avg(cb), 6).alias("mean_b"),
                    F.round(F.covar_samp(ca, cb), 4).alias("covariance"),
                    F.round(F.corr(ca, cb), 6).alias("correlation"),
                )
            )
    row = df.agg(F.array(*rows).alias("_m"))
    return row.select(F.explode("_m").alias("m")).select("m.*")


def scripted_metric(
    df: DataFrame,
    bucket: Optional[str],
    map_fn,
    reduce_fn,
    state_schema: str = "value double",
    result_name: str = "value",
):
    """``scripted_metric`` UDAF (``ScriptedMetricAggregationBuilder.java:63-66``:
    init/map/combine/reduce scripts).  Spark mapping mirrors the
    shard/coordinator split exactly:

    - ``map_fn(pdf) -> dict`` runs per PARTITION chunk over the bucket's
      rows (init+map+combine of one shard) inside ``applyInPandas`` with
      a partition-salt key, producing one partial-state row per chunk;
    - ``reduce_fn(list[dict]) -> float`` folds the partial states per
      bucket on a second tiny grouped pass (the coordinator reduce).

    Both callables are arbitrary Python over pandas — the Painless-UDAF
    analog — but the per-doc path stays Arrow-batched."""
    import pandas as pd

    spark_salt = F.spark_partition_id()
    keys = ([bucket] if bucket else []) + ["_salt"]
    with_salt = df.withColumn("_salt", spark_salt)

    part_fields = (f"{bucket} string, " if bucket else "") + state_schema

    def _partial(pdf: pd.DataFrame) -> pd.DataFrame:
        state = map_fn(pdf)
        out = {k: [v] for k, v in state.items()}
        if bucket:
            out[bucket] = [pdf[bucket].iloc[0]]
        return pd.DataFrame(out)

    partials = with_salt.groupBy(*keys).applyInPandas(_partial, part_fields)

    res_fields = (f"{bucket} string, " if bucket else "") + f"{result_name} double"

    def _reduce(pdf: pd.DataFrame) -> pd.DataFrame:
        drop = [c for c in ([bucket] if bucket else ["_g"]) if c in pdf.columns]
        states = pdf.drop(columns=drop).to_dict("records")
        out = {result_name: [float(reduce_fn(states))]}
        if bucket:
            out[bucket] = [pdf[bucket].iloc[0]]
        else:
            out["_g"] = [1]
        return pd.DataFrame(out)

    if bucket:
        return partials.groupBy(bucket).applyInPandas(_reduce, res_fields)
    return (
        partials.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(_reduce, "_g int, " + f"{result_name} double")
        .drop("_g")
    )


def significant_text(
    df: DataFrame,
    fg_cond: Column,
    text_col: str = "text",
    size: int = 10,
    min_doc_count: int = 3,
    filter_duplicate_text: bool = False,
    id_col: Optional[str] = None,
    dup_gram: int = 6,
) -> DataFrame:
    """``significant_text`` (``SignificantTextAggregationBuilder``): JLH
    over ANALYZED TERMS of the hit set vs the background corpus — the
    corpus-mining agg (which words characterize the matching docs).
    Counts are document frequencies (distinct tokens per doc), computed
    with one explode + two conditional counts; JLH = (fg%-bg%)*(fg%/bg%).

    ``filter_duplicate_text`` is the builder's boilerplate stripper
    (Lucene DeDuplicatingTokenFilter / DuplicateByteSequenceSpotter,
    sequence length 6): token occurrences inside a ``dup_gram``-token
    run shared with ANOTHER document are excluded from counting, so
    copy-pasted spans don't dominate the statistics.  The reference's
    spotter is stateful per-shard-stream (trims sequences already seen
    earlier in the stream); the distributed analog here is
    order-independent — a span is dropped wherever its exact
    ``dup_gram``-gram occurs in >= 2 documents — which drops BOTH
    copies rather than all-but-the-first (documented deviation; the
    statistics goal is identical).  Needs ``id_col`` to identify docs.

    Scale shape: one n-gram explode -> groupBy to find cross-doc
    grams, one join back to mark covered positions — the
    MinHash-candidate shape from ops/dedup.py, shuffle bounded by
    corpus token count."""
    from opensearch_spark.ops.dedup import tokens_col

    if not filter_duplicate_text:
        toks = df.select(
            fg_cond.alias("_fg"),
            F.explode(F.array_distinct(tokens_col(text_col))).alias("key"),
        )
    else:
        if id_col is None:
            raise ValueError("filter_duplicate_text requires id_col")
        g = int(dup_gram)
        t = df.select(
            F.col(id_col).alias("_id"),
            fg_cond.alias("_fg"),
            tokens_col(text_col).alias("_tk"),
        )
        n = F.size("_tk")
        grams = t.select(
            "_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(n - F.lit(g - 1), F.lit(0))),
                    lambda i: F.concat_ws(" ", F.slice("_tk", i, g)),
                )
            ).alias("_s0", "gram"),
        ).select("_id", (F.col("_s0") + F.lit(1)).alias("_start"), "gram")
        dup = (
            grams.groupBy("gram")
            .agg(F.count_distinct("_id").alias("_docs"))
            .filter(F.col("_docs") >= 2)
            .select("gram")
        )
        covered = (
            grams.join(dup, "gram")
            .select(
                "_id",
                F.explode(
                    F.sequence(F.col("_start"), F.col("_start") + F.lit(g - 1))
                ).alias("_pos"),
            )
            .distinct()
        )
        poss = t.select(
            "_id", "_fg", F.posexplode("_tk").alias("_p0", "key")
        ).select("_id", "_fg", (F.col("_p0") + F.lit(1)).alias("_pos"), "key")
        toks = (
            poss.join(covered, ["_id", "_pos"], "left_anti")
            .select("_id", "_fg", "key")
            .distinct()
            .select("_fg", "key")
        )
    totals = df.agg(
        F.sum(F.when(fg_cond, 1).otherwise(0)).cast("double").alias("fg_total"),
        F.count(F.lit(1)).cast("double").alias("bg_total"),
    ).collect()[0]
    fg_total, bg_total = float(totals["fg_total"]), float(totals["bg_total"])
    counts = toks.groupBy("key").agg(
        F.sum(F.when(F.col("_fg"), 1).otherwise(0)).cast("long").alias("fg_count"),
        F.count(F.lit(1)).cast("long").alias("bg_count"),
    )
    fg_pct = F.col("fg_count") / F.lit(fg_total)
    bg_pct = F.col("bg_count") / F.lit(bg_total)
    score = (fg_pct - bg_pct) * (fg_pct / bg_pct)
    return (
        counts.filter(F.col("fg_count") >= min_doc_count)
        .withColumn("score", F.round(score.cast("double"), 6))
        .filter(fg_pct > bg_pct)
        .orderBy(F.desc("score"), F.asc("key"))
        .limit(size)
        .select("key", "fg_count", "bg_count", "score")
    )


def geo_centroid(
    df: DataFrame, lat_col: str = "lat", lon_col: str = "lon"
) -> DataFrame:
    """``geo_centroid`` (GeoCentroidAggregationBuilder; metrics/
    GeoCentroidAggregator.java): doc-count-weighted mean of the points
    — one row (lat, lon, count).  Simple arithmetic mean of the
    coordinates (the reference accumulates in the same lat/lon space);
    longitude wrap-around near the antimeridian is not special-cased
    (documented simplification)."""
    return df.agg(
        F.round(F.avg(F.col(lat_col)), 6).alias("lat"),
        F.round(F.avg(F.col(lon_col)), 6).alias("lon"),
        F.count(F.lit(1)).cast("long").alias("count"),
    )


def geo_bounds(
    df: DataFrame, lat_col: str = "lat", lon_col: str = "lon"
) -> DataFrame:
    """``geo_bounds`` (GeoBoundsAggregationBuilder): the tightest
    non-wrapping bounding box of the points — one row
    (top, bottom, left, right)."""
    return df.agg(
        F.max(F.col(lat_col)).alias("top"),
        F.min(F.col(lat_col)).alias("bottom"),
        F.min(F.col(lon_col)).alias("left"),
        F.max(F.col(lon_col)).alias("right"),
    )


def geo_bounds_shapes(df: DataFrame, field: str) -> DataFrame:
    """``geo_bounds`` over SHAPE docs (modules/geo
    ``GeoShapeBoundsAggregator``): the union box of per-doc envelope
    structs (min_lat/max_lat/min_lon/max_lon) — still one exact agg,
    no wrap special-case (matching :func:`geo_bounds`)."""
    c = F.col(field)
    return df.filter(c.isNotNull()).agg(
        F.max(c["max_lat"]).alias("top"),
        F.min(c["min_lat"]).alias("bottom"),
        F.min(c["min_lon"]).alias("left"),
        F.max(c["max_lon"]).alias("right"),
    )


def geo_centroid_shapes(df: DataFrame, field: str) -> DataFrame:
    """``geo_centroid`` over SHAPE docs: each envelope contributes its
    box center, doc-count weighted (the reference's shape centroid
    accumulates per-shape centroids the same way)."""
    c = F.col(field)
    lat_mid = (c["min_lat"] + c["max_lat"]) / 2.0
    lon_mid = (c["min_lon"] + c["max_lon"]) / 2.0
    return df.filter(c.isNotNull()).agg(
        F.round(F.avg(lat_mid), 6).alias("lat"),
        F.round(F.avg(lon_mid), 6).alias("lon"),
        F.count(F.lit(1)).cast("long").alias("count"),
    )


# base32 alphabet of the geohash spec (Geohash.java BASE_32)
GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_key(
    precision: int, lat_col: str = "lat", lon_col: str = "lon"
) -> Column:
    """Base32 geohash of (lat, lon) at ``precision`` chars as ONE
    whole-stage-codegen Column (closed-form bit interleave — see
    :func:`geohash_grid`).  Shared by geohash_grid and the completion
    suggester's GeoContextMapping analog."""
    bits = 5 * precision
    lon_bits = (bits + 1) // 2
    lat_bits = bits // 2
    x = F.floor((F.col(lon_col) + 180.0) / 360.0 * (1 << lon_bits))
    y = F.floor((F.col(lat_col) + 90.0) / 180.0 * (1 << lat_bits))
    x = F.greatest(F.lit(0), F.least(F.lit((1 << lon_bits) - 1), x)).cast(
        "long"
    )
    y = F.greatest(F.lit(0), F.least(F.lit((1 << lat_bits) - 1), y)).cast(
        "long"
    )
    code = F.lit(0).cast("long")
    for i in range(bits):  # msb-first: even stream positions are lon bits
        src, src_bits = (x, lon_bits) if i % 2 == 0 else (y, lat_bits)
        code = code + F.shiftleft(
            F.shiftright(src, src_bits - 1 - i // 2).bitwiseAND(F.lit(1)),
            bits - 1 - i,
        )
    alpha = F.array(*[F.lit(c) for c in GEOHASH_ALPHABET])
    chars = [
        F.element_at(
            alpha,
            (
                F.shiftright(code, 5 * (precision - 1 - c)).bitwiseAND(
                    F.lit(31)
                )
            ).cast("int")
            + 1,
        )
        for c in range(precision)
    ]
    return F.concat(*chars)


def geohash_encode(lat: float, lon: float, precision: int = 6) -> str:
    """Driver-side geohash encode — the same closed form as
    :func:`geohash_key`, for query-time points (GeoQueryContext).
    Pinned against published geohashes in tests/test_operators2.py."""
    bits = 5 * precision
    lon_bits = (bits + 1) // 2
    lat_bits = bits // 2
    x = min(max(int((lon + 180.0) / 360.0 * (1 << lon_bits)), 0), (1 << lon_bits) - 1)
    y = min(max(int((lat + 90.0) / 180.0 * (1 << lat_bits)), 0), (1 << lat_bits) - 1)
    code = 0
    for i in range(bits):
        src, src_bits = (x, lon_bits) if i % 2 == 0 else (y, lat_bits)
        code += ((src >> (src_bits - 1 - i // 2)) & 1) << (bits - 1 - i)
    return "".join(
        GEOHASH_ALPHABET[(code >> (5 * (precision - 1 - c))) & 31]
        for c in range(precision)
    )

# Web-Mercator latitude bound (GeoTileUtils.java LATITUDE_MASK)
GEOTILE_LAT_MAX = 85.0511287798066


def geotile_grid(
    df: DataFrame,
    precision: int = 7,
    lat_col: str = "lat",
    lon_col: str = "lon",
    size: int = 10000,
) -> DataFrame:
    """``geotile_grid`` bucket agg (GeoTileGridAggregationBuilder.java;
    key math in GeoTileUtils.java:133-150): web-mercator "z/x/y" tile
    keys at zoom ``precision``, count per tile, ordered count desc / key
    asc.  Pure Catalyst arithmetic (one groupBy shuffle on the tile key;
    at 100 TB this is a plain map-side-combinable count)."""
    import math as _math

    z = 1 << precision
    lat = F.greatest(
        F.lit(-GEOTILE_LAT_MAX),
        F.least(F.lit(GEOTILE_LAT_MAX), F.col(lat_col)),
    )
    r = F.radians(lat)
    x = F.floor((F.col(lon_col) + 180.0) / 360.0 * z)
    y = F.floor(
        (1.0 - F.log(F.tan(r) + 1.0 / F.cos(r)) / _math.pi) / 2.0 * z
    )
    clamp = lambda c: F.greatest(F.lit(0), F.least(F.lit(z - 1), c))  # noqa: E731
    key = F.concat_ws(
        "/", F.lit(str(precision)), clamp(x).cast("string"),
        clamp(y).cast("string")
    )
    return _count_by(df, key).orderBy(*bucket_order([("_count", False)], {}.get)).limit(size)


def geohash_grid(
    df: DataFrame,
    precision: int = 5,
    lat_col: str = "lat",
    lon_col: str = "lon",
    size: int = 10000,
) -> DataFrame:
    """``geohash_grid`` bucket agg (GeoHashGridAggregationBuilder.java;
    encode in ``libs/geo/.../Geohash.java``): base32 geohash cell keys.

    Implemented closed-form instead of the reference's per-bit loop: a
    geohash interleaves lon/lat bisection bits (lon first), so the
    ``5*precision``-bit code is the bit-interleave of
    X = floor((lon+180)/360 * 2^ceil(bits/2)) and
    Y = floor((lat+90)/180 * 2^floor(bits/2)) — both plain integer
    arithmetic, unrolled here into one whole-stage-codegen expression
    (no UDF, no Python in the hot path)."""
    key = geohash_key(precision, lat_col, lon_col)
    return _count_by(df, key).orderBy(*bucket_order([("_count", False)], {}.get)).limit(size)


def geo_distance_agg(
    df: DataFrame,
    origin_lat: float,
    origin_lon: float,
    ranges,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """``geo_distance`` bucket agg (GeoDistanceAggregationBuilder.java):
    [from, to) km buckets around an origin, arc (haversine) distance —
    one conditional-sum pass over the computed distance column, same
    shape as ``range_agg``."""
    from opensearch_spark.query.executor import _haversine_km

    km = _haversine_km(field_col(df, lat_col), field_col(df, lon_col), origin_lat, origin_lon)
    return _range_buckets(df, "geo_distance", km, ranges)


def percentile_ranks(
    df: DataFrame, field: str, values: Sequence[float]
) -> DataFrame:
    """``percentile_ranks`` (PercentileRanksAggregationBuilder;
    HDR/TDigestPercentileRanksAggregator): for each given value, the
    percentage of observations <= it — the inverse of ``percentiles``.
    EXACT variant (one conditional-sum pass); the reference's t-digest
    estimate is the approximate path, same family as
    ``percentiles(exact=False)``."""
    n = F.count(F.col(field)).cast("double")
    aggs_ = [n.alias("_n")] + [
        F.sum(F.when(F.col(field) <= F.lit(float(v)), 1).otherwise(0))
        .cast("double")
        .alias(f"_le{i}")
        for i, v in enumerate(values)
    ]
    row = df.agg(*aggs_)
    stack = ", ".join(
        f"'{v}', 100.0 * `_le{i}` / `_n`" for i, v in enumerate(values)
    )
    return row.selectExpr(f"stack({len(values)}, {stack}) as (key, rank_pct)")
