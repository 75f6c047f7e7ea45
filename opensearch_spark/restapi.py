"""``_search`` request-body adapter: the reference's JSON API surface.

Reference: ``SearchSourceBuilder.java`` (the body grammar),
``RestSearchAction.java`` (the REST entry),
``SearchResponse.java`` / ``SearchHits.java`` (the response envelope),
``AggregatorFactories.java`` (the ``aggs`` sub-tree parser).

The engine's Python API takes the body's pieces as kwargs
(``SearchEngine.search(query, size=, sort=, script_fields=, ...)``) and
aggregations as DataFrame combinators (``aggs.py``).  This module is
the missing *envelope*: it accepts the reference's FULL request body
verbatim and returns a reference-shaped response dict —

    resp = search_request(engine, {
        "query": {"match": {"text": "error handling"}},
        "size": 5,
        "_source": ["conv_id", "role"],
        "script_fields": {"dl2": {"script": {
            "lang": "painless", "source": "doc['dl'].value * 2"}}},
        "aggs": {"roles": {"terms": {"field": "role"},
                           "aggs": {"len": {"avg": {"field": "dl"}}}}},
    })
    resp["hits"]["hits"][0]["_score"], resp["aggregations"]["roles"]

Every body key maps onto an already-oracle-verified engine path; the
adapter adds no scoring/bucketing logic of its own: the ``aggs`` tree
walk compiles every field, key, condition, metric and order onto the
``aggs.py`` Column builders.  Aggregations run over the query's FULL
matched docset (not the top-k page), exactly like the reference's
aggregation phase.

Scale notes: the hits page, every bucket list, and the aggregation
results are size-capped by construction (`size`, terms `size`,
histogram bucket counts) — the only ``collect()``s are on those capped
frames (terms caps per-parent via a distributed row_number window
BEFORE collecting).  The matched-docset frame feeding ``aggs`` stays
distributed; the request root is a keyless bucket whose metric and
selector aggs share ONE ``agg()`` pass, keyed bucket NESTING costs one
``groupBy`` per level (grouping keys accumulate — the reference's
per-level bucket collectors have the same shuffle profile), and
selector sub-aggs (filter/filters/missing/range) fold into their
parent's pass as conditional aggregates: zero extra jobs.

Scope guards (documented, raise NotImplementedError): selector-kind
aggs carrying KEYED bucket children of their own under a bucket parent
(flatten via ``aggs.py`` combinators — selector-in-selector nesting IS
supported, masks AND down the tree in one pass), and aggregation
``filter``s that need postings (full-text ``match`` — term-level
filters work).  Collapse ``inner_hits`` and the body completion
suggester are served in-body (r5).  ``msearch_request`` batches bodies
with per-item error isolation; ``count_request`` is the ``_count``
envelope.
"""

from __future__ import annotations

import datetime
import json
import time
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opensearch_spark import aggs as A
from opensearch_spark import sqltext
from opensearch_spark.query import dsl as Q
from opensearch_spark.query import painless

__all__ = ["search_request", "msearch_request", "count_request",
           "run_aggs", "analyze_request"]

_KEYED_NESTABLE = ("terms", "histogram", "date_histogram")
_SELECTOR_KINDS = ("filter", "filters", "missing", "range",
                   "date_range", "ip_range", "geo_distance")
_BUCKET_KINDS = _KEYED_NESTABLE + _SELECTOR_KINDS + ("global",)
_METRIC_KINDS = ("avg", "sum", "min", "max", "value_count", "cardinality",
                 "stats", "extended_stats", "percentiles", "weighted_avg")
_PIPELINE_KINDS = ("derivative", "cumulative_sum")
_TIMESTAMP = T.TimestampType()

# ------------------------------------------------------------ body parse

def _q_obj(body: dict):
    return Q.from_dict(body.get("query", {"match_all": {}}))


def _source_cols(engine, body) -> Optional[List[str]]:
    src = body.get("_source", True)
    fields = engine.index.plan.get("input_fields") or []
    if "_source" in fields:
        # JSON-built engine: fetch the stored source verbatim; the
        # request's include/exclude/false spec applies at hit-build
        # time (_hit_source), like the reference filters stored _source
        return ["_source"]
    if src is False:
        return []
    if src is True:
        return [c for c in fields if c not in engine.id_cols]
    if isinstance(src, str):
        src = [src]
    return [c for c in src if c not in engine.id_cols]


def _path_rel(pattern: str, path: str) -> Optional[str]:
    """Segment-wise glob relation between a filter pattern and a doc
    path: 'match' when the pattern covers the path (the path may be a
    subtree root under it), 'ancestor' when the path is a proper
    prefix of the pattern, None otherwise."""
    import fnmatch

    ps = pattern.split(".")
    xs = path.split(".")
    for sp, sx in zip(ps, xs):
        if not fnmatch.fnmatchcase(sx, sp):
            return None
    return "match" if len(ps) <= len(xs) else "ancestor"


def filter_source_map(src, includes, excludes, _path: str = ""):
    """``XContentMapValues.filter`` analog: dotted-path source
    filtering with ``*`` globs.  An include keeps its whole subtree
    (excludes still apply inside); an ancestor of an include keeps
    just the structure down to it; an exclude drops its subtree."""
    if isinstance(src, list):
        out = [filter_source_map(v, includes, excludes, _path)
               for v in src]
        return [v for v in out if v not in ({}, None)] or out
    if not isinstance(src, dict):
        return src
    result = {}
    for k, v in src.items():
        p = f"{_path}.{k}" if _path else k
        rels = [r for r in (_path_rel(e, p) for e in excludes) if r]
        if "match" in rels:
            continue
        deeper_excludes = "ancestor" in rels
        if includes:
            inc_rels = [r for r in (_path_rel(i, p) for i in includes) if r]
            if "match" in inc_rels:
                result[k] = (
                    filter_source_map(v, [], excludes, p)
                    if deeper_excludes and isinstance(v, (dict, list))
                    else v
                )
            elif "ancestor" in inc_rels and isinstance(v, (dict, list)):
                sub = filter_source_map(v, includes, excludes, p)
                if sub:
                    result[k] = sub
            continue
        result[k] = (
            filter_source_map(v, includes, excludes, p)
            if isinstance(v, (dict, list)) else v
        )
    return result


def _hit_source(engine, d: dict, body: dict, source_cols):
    """The per-hit ``_source`` object.  JSON-built engines (docmap
    carries the verbatim ``_source`` string) return the STORED source
    filtered per the request (`false` omits the key entirely, lists /
    include+exclude dicts apply dotted-glob filtering); column-built
    engines keep the legacy projected-columns shape."""
    raw = d.get("_source")
    if not isinstance(raw, str):
        src = {c: d[c] for c in (source_cols or []) if c in d}
        for c in engine.id_cols:
            src.setdefault(c, d[c])
        return src
    spec = body.get("_source", True)
    if spec is False:
        return None
    stored = body.get("stored_fields")
    if stored is not None and "_source" not in body and \
            "_source" not in ([stored] if isinstance(stored, str) else stored):
        # explicit stored_fields disable the default _source fetch
        # unless '_source' itself is listed
        # (SearchSourceBuilder.storedFields semantics)
        return None
    base = json.loads(raw)
    if spec is True:
        return base
    if isinstance(spec, str):
        inc, exc = [spec], []
    elif isinstance(spec, list):
        inc, exc = [str(s) for s in spec], []
    else:
        inc = spec.get("includes", spec.get("include", []) or [])
        exc = spec.get("excludes", spec.get("exclude", []) or [])
        inc = [inc] if isinstance(inc, str) else list(inc)
        exc = [exc] if isinstance(exc, str) else list(exc)
    if not inc and not exc:
        return base
    return filter_source_map(base, inc, exc)


def _sort_spec(body) -> Optional[List[Tuple[object, str]]]:
    """REST sort list -> the engine's ``[(col_spec, direction)]``.

    Accepts every FieldSortBuilder.fromXContent shape: bare field
    string, ``{field: "asc"}``, ``{field: {"order": ...}}``,
    ``"_score"``, ``{"_script": {...}}``, ``{"_geo_distance": {...}}``.
    """
    raw = body.get("sort")
    if raw is None:
        return None
    if isinstance(raw, (str, dict)):
        raw = [raw]
    out: List[Tuple[object, str]] = []
    for entry in raw:
        if isinstance(entry, str):
            out.append((entry, "desc" if entry == "_score" else "asc"))
            continue
        key = next(iter(entry))
        spec = entry[key]
        if key == "_script":
            # {"_script": {"type", "script": {...}, "order"?}}
            script = dict(spec.get("script", spec))
            order = spec.get("order", "asc")
            out.append(({"_script": script}, order))
        elif key == "_geo_distance":
            order = spec.get("order", "asc")
            out.append(({"_geo_distance": spec}, order))
        elif isinstance(spec, str):
            out.append((key, spec))
        else:
            out.append((key, spec.get("order", "asc")))
    return out


def _script_fields(body) -> Optional[Dict[str, dict]]:
    raw = body.get("script_fields")
    if not raw:
        return None
    out = {}
    for name, spec in raw.items():
        s = dict(spec.get("script", spec))
        if "fields" in spec:
            s["fields"] = spec["fields"]
        out[name] = s
    return out


def _docvalue_fields(body) -> Optional[Dict[str, Optional[str]]]:
    # the newer `fields` API retrieves through the same doc-values
    # machinery (FieldFetcher); both body keys land here
    raw = list(body.get("docvalue_fields") or []) + list(body.get("fields") or [])
    if not raw:
        return None
    out: Dict[str, Optional[str]] = {}
    for entry in raw:
        if isinstance(entry, str):
            out[entry] = None
        else:
            fmt = entry.get("format")
            # the 6.x-transition sentinel means "the field's default"
            out[entry["field"]] = None if fmt == "use_field_mapping" else fmt
    return out


# ----------------------------------------------------------- aggregations
# The tree walk only: parse each node, plan its children, run ONE pass
# per node and build the response JSON.  Every field, key, condition,
# metric and ordering rule is an ``aggs.py`` Column builder.

def _values_source(spec: dict, frame: DataFrame):
    """ValuesSourceAggregationBuilder input: ``script`` or ``field``;
    ``missing`` substitutes for docs without a value."""
    if "script" in spec:
        s = spec["script"]
        if isinstance(s, str):
            s = {"source": s}
        return painless.script_expr(
            s["source"], s.get("lang"), params=s.get("params")
        )
    col = A.field_col(frame, spec["field"])
    if "missing" in spec:
        col = F.coalesce(col, F.lit(spec["missing"]))
    return col


def _metric_aggs(kind: str, spec: dict, frame: DataFrame, prefix: str,
                 mask=None) -> List:
    """One metric agg -> its aggregate Columns aliased
    ``{prefix}:{part}``, so sibling metrics share one ``agg()`` pass.
    ``mask`` gates the input to a selector bucket's docs (NULL outside;
    every metric ignores NULLs, so the masked metric is the filtered
    one)."""
    def value(s):
        c = _values_source(s, frame)
        return c if mask is None else F.when(mask, c)

    if kind == "weighted_avg":
        c, arg = value(spec["value"]), value(spec["weight"])
    else:
        c, arg = value(spec), spec.get("percents")
    return [e.alias(f"{prefix}:{part}")
            for part, e in A.metric_cols(kind, c, arg)]


def _split_agg(spec: dict) -> Tuple[str, dict, dict]:
    """(kind, kind_spec, sub_aggs) from one named agg body."""
    sub = spec.get("aggs", spec.get("aggregations", {})) or {}
    kinds = [k for k in spec if k not in ("aggs", "aggregations", "meta")]
    if len(kinds) != 1:
        raise ValueError(f"agg body must have exactly one type, got {kinds}")
    return kinds[0], spec[kinds[0]], sub


def _filter_predicate(engine):
    """Query dict -> the engine's columnar docmap predicate."""
    def pred(qd):
        p = engine._predicate(Q.from_dict(qd)) if engine is not None else None
        if p is None:
            raise NotImplementedError(
                "aggregation filters must be term-level (columnar) "
                "queries; full-text scoring filters via aggs.py"
            )
        return p
    return pred


def _plan_children(sub_aggs: dict, frame: DataFrame, engine):
    """Split one node's children into (metrics, selectors, keyed, hits).

    metrics:   [(name, kind, spec)]
    selectors: [(name, kind, conds, children)] — filter / filters /
               missing / range-family children become CONDITIONAL
               aggregates inside the node's own pass (zero extra jobs;
               FiltersAggregator's sub-collector analog).  ``children``
               is the selector's own plan; selector-in-selector nesting
               ANDs the masks down, still inside the ONE pass.  Keyed
               children of a selector run over the selector's docs, at
               the request root only (:func:`_root_only_keyed`).
    keyed:     [(name, kind, spec, sub)] — terms / histogram /
               date_histogram children recurse with one groupBy per
               nesting level, keys accumulating
    hits:      [(name, spec)] — top_hits children
    """
    metrics, selectors, keyed, hits = [], [], [], []
    for name, body in sub_aggs.items():
        kind, spec, sub = _split_agg(body)
        if kind in _METRIC_KINDS:
            if sub:
                raise ValueError(f"metric agg {name!r} cannot have sub-aggs")
            metrics.append((name, kind, spec))
        elif kind == "top_hits":
            hits.append((name, spec))
        elif kind in _KEYED_NESTABLE:
            keyed.append((name, kind, spec, sub))
        elif kind in _SELECTOR_KINDS:
            children = _plan_children(sub, frame, engine)
            _root_only_keyed(children[1])
            conds = A.bucket_conds(kind, spec, frame, _filter_predicate(engine))
            selectors.append((name, kind, conds, children))
        else:
            raise NotImplementedError(f"sub-agg {kind!r} under a bucket agg")
    return metrics, selectors, keyed, hits


def _root_only_keyed(selectors) -> None:
    """Selector aggs nested in a bucket carry no keyed children."""
    if any(ch[2] or ch[3] for *_s, ch in selectors):
        raise NotImplementedError(
            "selector aggs nested under a bucket agg support "
            "metric/selector children only (flatten via aggs.py)"
        )


def _child_exprs(frame: DataFrame, metrics, selectors, prefix: str = "",
                 mask=None) -> List:
    """Aggregate Columns of one node's metric and selector children:
    each selector bucket is a conditional count plus its own children
    under the bucket's mask, so the whole subtree is one pass."""
    exprs = [e for mn, mk, ms in metrics
             for e in _metric_aggs(mk, ms, frame, prefix + mn, mask)]
    for sname, _kind, conds, (smetrics, ssel, _k, _h) in selectors:
        for label, cond, _extras in conds:
            full = cond if mask is None else (mask & cond)
            p = f"{prefix}{sname}@{label}"
            exprs.append(A.bucket_count(full).alias(f"{p}:doc_count"))
            exprs += _child_exprs(frame, smetrics, ssel, f"{p}:", full)
    return exprs


def _attach_children(b: dict, row, metrics, selectors, prefix: str = "",
                     frame: Optional[DataFrame] = None, engine=None) -> None:
    """Slot one node's metric and selector results (read from its pass
    ``row``) into the response object ``b``."""
    for mn, mk, ms in metrics:
        b[mn] = A.metric_result(mk, row, prefix + mn, ms.get("percents"))
    for sname, skind, conds, (smetrics, ssel, skeyed, shits) in selectors:
        def bucket(label, cond, extras):
            p = f"{prefix}{sname}@{label}"
            bb = {**extras, "doc_count": int(row[f"{p}:doc_count"])}
            _attach_children(bb, row, smetrics, ssel, f"{p}:")
            if skeyed or shits:
                # a root selector's keyed children run over its docs
                _attach_keyed(bb, (), *_run_keyed(
                    frame.filter(cond), skeyed, shits, engine, []))
            return bb

        if skind in ("filter", "missing"):
            b[sname] = bucket(*conds[0])
        elif skind == "filters":
            b[sname] = {"buckets": {c[0]: bucket(*c) for c in conds}}
        else:  # range family
            b[sname] = {"buckets": [{"key": c[0], **bucket(*c)} for c in conds]}


def _run_keyed(frame: DataFrame, keyed, hits, engine, pkeys):
    """Run a node's keyed and top_hits children ONCE for the whole
    level, grouped by the accumulated parent keys ``pkeys``."""
    parts = [c for _a, c in pkeys]
    return ([(n, k, _exec_keyed(frame, k, s, sub, engine, pkeys))
             for n, k, s, sub in keyed],
            [(n, _exec_top_hits(frame, s, engine, parts)) for n, s in hits])


def _attach_keyed(b: dict, key: tuple, kmaps, hmaps) -> None:
    """Slot the keyed / top_hits child results of bucket ``key``."""
    for n, kind, m in kmaps:
        b[n] = m.get(key) or (
            {"doc_count_error_upper_bound": 0, "sum_other_doc_count": 0,
             "buckets": []} if kind == "terms" else {"buckets": []})
    for n, m in hmaps:
        b[n] = {"hits": {"total": {"value": b["doc_count"], "relation": "eq"},
                         "hits": m.get(key, [])}}


def _exec_top_hits(frame: DataFrame, spec: dict, engine,
                   part_cols: List) -> Dict[tuple, List[dict]]:
    """``top_hits`` (TopHitsAggregator.java): per-bucket top-k docs via
    ONE row_number window over the bucket keys — no per-bucket jobs.
    Returns ``{bucket_key_tuple: [hit dicts]}`` (empty tuple = global).
    """
    if engine is None:
        raise ValueError("top_hits needs the engine (for _id columns)")
    k = int(spec.get("size", 3))
    order, sort_fields = [], []
    for fld, d in _sort_spec({"sort": spec.get("sort", [{"_score": "desc"}])}):
        if fld == "_score" and "score" not in frame.columns:
            raise ValueError(
                "top_hits _score sort needs the scored frame (run_aggs "
                "frame lacks a score column) — sort by a doc field"
            )
        col = F.col("score") if fld == "_score" else F.col(fld)
        if fld != "_score":
            sort_fields.append(fld)
        order.append(col.desc() if d == "desc" else col.asc())
    order += [F.asc(c) for c in engine.id_cols]
    src = spec.get("_source", True)
    fields = engine.index.plan.get("input_fields") or []
    src_cols = ([] if src is False else
                fields if src is True else
                [src] if isinstance(src, str) else list(src))
    src_cols = [c for c in src_cols if c in frame.columns]
    aliases = [f"__h{i}" for i in range(len(part_cols))]
    sel = frame.select(
        *[c.alias(a) for c, a in zip(part_cols, aliases)],
        *dict.fromkeys(list(engine.id_cols) + src_cols + sort_fields
                       + (["score"] if "score" in frame.columns else [])),
    )
    w = A.bucket_window([F.col(a) for a in aliases]).orderBy(*order)
    rows = (sel.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= k).collect())
    out: Dict[tuple, List[dict]] = {}
    for r in rows:
        key = tuple(r[a] for a in aliases)
        out.setdefault(key, []).append({
            "_id": _hit_id(r, engine.id_cols),
            "_score": r["score"] if "score" in sel.columns else None,
            "_source": {c: r[c] for c in src_cols},
        })
    return out


def _decimal_format(pattern: str, value) -> str:
    """Render ``value`` with a DecimalFormat pattern (the subset of
    ``sqltext.decimal_pattern``): "Value is ##0.0" -> "Value is 50.0"."""
    dec = sqltext.decimal_pattern(pattern)
    if dec is None:
        return pattern
    prefix, digits, suffix = dec
    return prefix + f"%.{digits}f" % float(value) + suffix


def _order(spec: dict, metrics, key_alias: str) -> List:
    """The request's BucketOrder (``order``: one ``{path: dir}`` or a
    list of them) over this node's columns: a metric child ``m`` is
    ``m:value``, a dotted path ``m.part`` is ``m:part``."""
    raw = spec.get("order", {"_count": "desc"})
    order = [(path, d == "asc") for e in ([raw] if isinstance(raw, dict) else raw)
             for path, d in e.items()]
    names = {mn for mn, _k, _s in metrics}

    def sub_col(path):
        base, _dot, part = path.partition(".")
        return f"{base}:{part or 'value'}" if base in names else None
    return A.bucket_order(order, sub_col, key_alias)


def _millis_iso(ms: int) -> str:
    """Epoch millis -> ``yyyy-MM-ddTHH:mm:ss.SSSZ`` (UTC)."""
    d = datetime.datetime(1970, 1, 1) + datetime.timedelta(milliseconds=ms)
    return d.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"


def _exec_keyed(frame: DataFrame, kind: str, spec: dict, sub_aggs: dict,
                engine, pkeys: List[Tuple[str, object]]) -> Dict[tuple, dict]:
    """Run one keyed bucket agg (terms / histogram / date_histogram)
    grouped by the accumulated parent keys — ONE groupBy per nesting
    level (keys accumulate), exactly the shuffle profile the reference's
    per-level bucket collectors have.

    terms size-capping runs DISTRIBUTED: a row_number window per parent
    (ordered by the BucketOrder translation) caps each parent's bucket
    list before the collect, and a windowed sum provides each parent's
    total for ``sum_other_doc_count`` without a second job.  Returns
    ``{parent_key_tuple: node_result_dict}``.
    """
    key_col, guard = A.bucket_key(kind, spec, frame)
    f = frame if guard is None else frame.filter(guard)
    metrics, selectors, keyed, hits = _plan_children(sub_aggs, f, engine)
    _root_only_keyed(selectors)
    galias = f"__k{len(pkeys)}"
    parents = [a for a, _c in pkeys]
    grouped = f.groupBy(*[c.alias(a) for a, c in pkeys], key_col.alias(galias)).agg(
        F.count(F.lit(1)).alias("doc_count"), *_child_exprs(f, metrics, selectors)
    )
    mdc = int(spec.get("min_doc_count", 1))
    if mdc > 1 or (kind != "terms" and mdc > 0):
        grouped = grouped.filter(F.col("doc_count") >= mdc)
    if kind == "terms":
        pw = A.bucket_window([F.col(a) for a in parents])
        rows = sorted(
            grouped.withColumn("__tot", F.sum("doc_count").over(pw))
            .withColumn("__rk", F.row_number().over(
                pw.orderBy(*_order(spec, metrics, galias))))
            .filter(F.col("__rk") <= int(spec.get("size", 10)))
            .collect(),
            key=lambda r: r["__rk"],
        )
    else:
        # histogram/date_histogram accept the same BucketOrder grammar
        # (incl. the deprecated _time alias for _key); default key asc
        order = (_order(spec, metrics, galias) if "order" in spec
                 else [F.asc(galias)])
        rows = grouped.orderBy(*[F.asc(a) for a in parents], *order).collect()

    # keyed children run ONCE for the whole level (their groupBy
    # carries this level's key); results slot under each bucket
    kmaps, hmaps = _run_keyed(f, keyed, hits, engine,
                              pkeys + [(galias, key_col)])
    out: Dict[tuple, dict] = {}
    for r in rows:
        ptuple, raw_key = tuple(r[a] for a in parents), r[galias]
        b = {"key": raw_key, "doc_count": int(r["doc_count"])}
        if kind == "date_histogram":
            b = {"key_as_string": _millis_iso(raw_key), **b}
        elif kind == "histogram" and spec.get("format"):
            b["key_as_string"] = _decimal_format(spec["format"], raw_key)
        _attach_children(b, r, metrics, selectors)
        _attach_keyed(b, ptuple + (raw_key,), kmaps, hmaps)
        buckets = out.setdefault(ptuple, {"buckets": []})["buckets"]
        buckets.append(b)
        if kind == "terms":
            # single logical shard -> exact counts, like the reference
            # on one shard (InternalTerms doc_count_error)
            out[ptuple] = {
                "doc_count_error_upper_bound": 0,
                "sum_other_doc_count":
                    int(r["__tot"]) - sum(x["doc_count"] for x in buckets),
                "buckets": buckets,
            }
    return out


def _run_pipeline(kind: str, spec: dict, results: dict) -> dict:
    """Sibling pipeline aggs over an ALREADY-COMPUTED bucket list —
    pure driver-side list arithmetic (the bucket list is size-capped)."""
    path = spec["buckets_path"]
    parent, _, metric = path.partition(">")
    src = results.get(parent)
    if src is None or "buckets" not in src:
        raise ValueError(f"buckets_path {path!r}: no bucket agg {parent!r}")
    vals = [
        (b["key"], b["doc_count"] if not metric or metric == "_count"
         else b[metric]["value"])
        for b in src["buckets"]
    ]
    if kind == "derivative":
        buckets = [{"key": k, "value": (v - vals[i - 1][1]) if i else None}
                   for i, (k, v) in enumerate(vals)]
    else:  # cumulative_sum
        run, buckets = 0.0, []
        for k, v in vals:
            run += v
            buckets.append({"key": k, "value": run})
    return {"buckets": buckets}


def _resolve_fields(frame: DataFrame, tree: dict) -> DataFrame:
    """Materialize each ``field`` of the agg tree that the frame lacks
    as a literal column through ``aggs.field_col`` (multi-field column,
    struct path, or nulls when unmapped), so every agg kind addresses
    it by name."""
    for b in (tree or {}).values():
        for k, v in (b.items() if isinstance(b, dict) else ()):
            if k in ("aggs", "aggregations"):
                frame = _resolve_fields(frame, v)
            elif isinstance(v, dict) and isinstance(v.get("field"), str) \
                    and v["field"] not in frame.columns:
                frame = frame.withColumn(v["field"], A.field_col(frame, v["field"]))
    return frame


def run_aggs(frame: DataFrame, aggs_spec: dict, engine=None,
             full_frame: Optional[DataFrame] = None) -> dict:
    """Execute a reference ``aggs`` sub-tree over ``frame``.

    The request root is a keyless bucket: its metric and selector
    children share ONE ``agg()`` pass (selectors as conditional
    aggregates); each keyed bucket agg costs one ``groupBy`` per nesting
    level; pipeline aggs post-process sibling bucket lists driver-side.
    ``global`` (GlobalAggregator.java) re-roots its sub-tree on
    ``full_frame`` — the whole index, ignoring the query."""
    frame = _resolve_fields(frame, aggs_spec)
    if full_frame is not None:
        full_frame = _resolve_fields(full_frame, aggs_spec)
    tree, pipe_plan, global_plan, special_plan = {}, [], [], []
    for name, body in aggs_spec.items():
        kind, spec, sub = _split_agg(body)
        if kind in _PIPELINE_KINDS:
            pipe_plan.append((name, kind, spec))
        elif kind == "global":
            global_plan.append((name, sub))
        elif kind in ("top_hits", "composite", "significant_terms",
                      "median_absolute_deviation", "rare_terms",
                      "multi_terms"):
            special_plan.append((name, kind, spec, sub))
        elif kind in _METRIC_KINDS or kind in _BUCKET_KINDS:
            tree[name] = body
        else:
            raise NotImplementedError(
                f"agg {kind!r} — available via aggs.py combinators"
            )
    results: dict = {}
    metrics, selectors, keyed, _hits = _plan_children(tree, frame, engine)
    exprs = _child_exprs(frame, metrics, selectors)
    row = frame.agg(*exprs).collect()[0] if exprs else None
    _attach_children(results, row, metrics, selectors, frame=frame, engine=engine)
    _attach_keyed(results, (), *_run_keyed(frame, keyed, [], engine, []))
    for name, sub in global_plan:
        if full_frame is None:
            raise ValueError("global agg needs the full index frame")
        gres = run_aggs(full_frame, sub, engine=engine)
        results[name] = {"doc_count": int(full_frame.count()), **gres}
    for name, kind, spec, sub in special_plan:
        if kind == "top_hits":
            hh = _exec_top_hits(frame, spec, engine, []).get((), [])
            results[name] = {"hits": {"hits": hh}}
        elif kind == "composite":
            results[name] = _run_composite(frame, spec, sub, engine)
        elif kind == "median_absolute_deviation":
            row = A.median_absolute_deviation(frame, spec["field"]).collect()[0]
            results[name] = {"value": row["mad"]}
        elif kind == "rare_terms":
            rows = A.rare_terms(
                frame, spec["field"],
                max_doc_count=int(spec.get("max_doc_count", 1)),
            ).collect()
            results[name] = {"buckets": [
                {"key": r["key"], "doc_count": int(r["doc_count"])}
                for r in rows
            ]}
        elif kind == "multi_terms":
            fields = [t["field"] for t in spec["terms"]]
            # MultiTermsAggregator: a doc missing ANY key field is not
            # bucketed (each terms source needs a value)
            rows = A.multi_terms(
                frame.dropna(subset=fields), fields,
                size=int(spec.get("size", 10)),
            ).collect()
            results[name] = {"buckets": [
                {"key": [r[f"key_{f}"] for f in fields],
                 "key_as_string": "|".join(str(r[f"key_{f}"]) for f in fields),
                 "doc_count": int(r["doc_count"])}
                for r in rows
            ]}
        else:  # significant_terms: foreground = matched, bg = index
            if full_frame is None:
                raise ValueError("significant_terms needs the full index")
            flagged = full_frame.join(
                frame.select("_docid").withColumn("__fg", F.lit(1)),
                "_docid", "left",
            )
            rows = A.significant_terms(
                flagged, F.col("__fg").isNotNull(), spec["field"],
                size=int(spec.get("size", 10)),
                heuristic=spec.get("heuristic", "jlh"),
            ).collect()
            results[name] = {
                "doc_count": int(frame.count()),
                "bg_count": int(full_frame.count()),
                "buckets": [
                    {"key": r["key"], "doc_count": int(r["fg_count"]),
                     "bg_count": int(r["bg_count"]), "score": r["score"]}
                    for r in rows
                ],
            }
    for name, kind, spec in pipe_plan:
        results[name] = _run_pipeline(kind, spec, results)
    # meta passthrough (AggregationBuilder.setMetadata: echoed verbatim
    # on the agg's response object)
    for name, body in aggs_spec.items():
        if isinstance(body, dict) and "meta" in body and \
                isinstance(results.get(name), dict):
            results[name]["meta"] = body["meta"]
    return results


def _run_composite(frame: DataFrame, spec: dict, sub_aggs: dict,
                   engine) -> dict:
    """``composite`` (CompositeAggregator.java): key-ordered paginated
    buckets over multiple named sources (terms / histogram /
    date_histogram) — one groupBy, keyset ``after`` filter, metric
    sub-aggs in the same pass."""
    metrics, selectors, keyed, hits = _plan_children(sub_aggs, frame, engine)
    if selectors or keyed or hits:
        raise NotImplementedError("composite supports metric sub-aggs")
    names, key_cols = [], []
    for src in spec["sources"]:
        ((sname, sbody),) = src.items()
        ((skind, sspec),) = sbody.items()
        names.append(sname)
        key_cols.append(A.bucket_key(skind, sspec, frame)[0])
    aliases = [f"__c_{n}" for n in names]
    grouped = frame.groupBy(
        *[c.alias(a) for c, a in zip(key_cols, aliases)]
    ).agg(F.count(F.lit(1)).alias("doc_count"),
          *_child_exprs(frame, metrics, []))
    after = spec.get("after")
    if after is not None:
        grouped = grouped.filter(
            A.after_cond([F.col(a) for a in aliases], [after[n] for n in names]))
    size = int(spec.get("size", 10))
    rows = grouped.orderBy(*aliases).limit(size).collect()
    buckets = []
    for r in rows:
        b = {"key": {n: r[a] for n, a in zip(names, aliases)},
             "doc_count": int(r["doc_count"])}
        _attach_children(b, r, metrics, [])
        buckets.append(b)
    out = {"buckets": buckets}
    if len(buckets) == size:
        out["after_key"] = buckets[-1]["key"]
    return out


# -------------------------------------------------------------- response

def _hit_id(row, id_cols: Sequence[str]) -> str:
    return ":".join(str(row[c]) for c in id_cols)


def _run_suggest(engine, spec: dict) -> dict:
    """Body ``suggest`` section (SuggestBuilder.java): ``term`` and
    ``phrase`` (noisy-channel) suggesters over the engine's own index;
    ``completion`` builds (and caches) a completion-field table from
    the named docmap column and serves prefix/regex/fuzzy/contexts."""
    from opensearch_spark.query import suggest as S

    out = {}
    global_text = spec.get("text")
    for name, s in spec.items():
        if name == "text":
            continue
        text = s.get("text", global_text)
        if "term" in s:
            t = s["term"]
            rows = S.term_suggest(
                engine.index, text,
                max_edits=int(t.get("max_edits", 2)),
                size=int(t.get("size", 5)),
                mode=t.get("suggest_mode", "missing"),
            ).collect()
            per_tok: Dict[str, List[dict]] = {}
            for r in rows:
                per_tok.setdefault(r["token"], []).append(
                    {"text": r["suggestion"], "freq": int(r["freq"]),
                     "score": round(1.0 - r["distance"]
                                    / max(len(r["token"]), 1), 6)}
                )
            out[name] = [
                {"text": tok, "options": per_tok.get(tok, [])}
                for tok in engine.index.analyze(text)
            ]
        elif "phrase" in s:
            p = dict(s["phrase"])
            hl = p.pop("highlight", None) or {}
            gens = p.pop("direct_generator", None)
            kw = {k: p[k] for k in
                  ("size", "gram_size", "real_word_error_likelihood",
                   "confidence", "max_errors", "smoothing", "token_limit",
                   "collate") if k in p}
            if gens:
                kw["generator"] = gens[0]
            if hl:
                kw["pre_tag"] = hl.get("pre_tag")
                kw["post_tag"] = hl.get("post_tag")
            rows = S.phrase_suggest_noisy(engine.index, text, **kw).collect()
            out[name] = [{
                "text": text,
                "options": [
                    {"text": r["suggestion"], "score": r["score"],
                     **({"highlighted": r["highlighted"]} if hl else {})}
                    for r in rows
                ],
            }]
        elif "completion" in s:
            # CompletionSuggestionBuilder in the body: build (and cache
            # per engine+field) a completion-field table from the named
            # docmap column, then run the prefix/regex/fuzzy/contexts
            # machinery.  `weight_field` / `contexts_fields` are the
            # body-side stand-ins for what the reference fixes at
            # mapping time (CompletionFieldMapper weight + contexts);
            # a production layout persists the table suggestion-sorted
            # (see build_completion_index scale note).
            c = dict(s["completion"])
            fld = c["field"]
            ctx_fields = c.get("contexts_fields") or None
            key = (fld, c.get("weight_field"),
                   tuple(sorted((ctx_fields or {}).items())))
            cache = engine.__dict__.setdefault("_completion_tables", {})
            if key not in cache:
                cache[key] = S.build_completion_index(
                    engine.docmap(), fld,
                    weight_col=c.get("weight_field"),
                    context_cols=ctx_fields,
                )
            # mapping-time `index_prefixes` (CompletionFieldMapper /
            # PrefixFieldMapper): stand up the edge-prefix equality
            # table beside the cached completion table so in-band
            # prefixes probe as term matches
            pidx = None
            if c.get("index_prefixes"):
                ip = c["index_prefixes"] if isinstance(
                    c["index_prefixes"], dict) else {}
                pcache = engine.__dict__.setdefault(
                    "_completion_prefix_tables", {})
                pkey = (key, ip.get("min_chars", 2), ip.get("max_chars", 5))
                if pkey not in pcache:
                    pcache[pkey] = S.CompletionPrefixIndex.build(
                        cache[key],
                        min_chars=int(ip.get("min_chars", 2)),
                        max_chars=int(ip.get("max_chars", 5)),
                    )
                pidx = pcache[pkey]
            rows = S.completion_suggest_field(
                cache[key],
                prefix=s.get("prefix"),
                regex=s.get("regex"),
                size=int(c.get("size", 5)),
                fuzzy=c.get("fuzzy"),
                contexts=c.get("contexts"),
                skip_duplicates=bool(c.get("skip_duplicates", False)),
                prefix_index=pidx,
            ).collect()
            out[name] = [{
                "text": s.get("prefix") or s.get("regex"),
                "options": [
                    {"text": r["suggestion"], "score": float(r["score"])}
                    for r in rows
                ],
            }]
        else:
            raise NotImplementedError(f"suggester in {name!r}")
    return out


def search_request(engine, body: dict) -> dict:
    """Run one reference-shaped ``_search`` request body; return the
    reference-shaped response (``hits.total/max_score/hits[]`` with
    ``_id/_score/_source/fields/sort``, plus ``aggregations``)."""
    # runtime_mappings (SearchSourceBuilder runtime fields — the
    # RuntimeField.java search-time mapping): same machinery as derived
    # fields, scoped to this request; visible to the query, sorts,
    # aggregations, and fetch alike
    if body.get("runtime_mappings"):
        with engine.derived_fields(body["runtime_mappings"]):
            inner = {k: v for k, v in body.items() if k != "runtime_mappings"}
            return search_request(engine, inner)
    t0 = time.monotonic()
    q = _q_obj(body)
    size = int(body.get("size", 10))
    from_ = int(body.get("from", 0))
    # SearchSourceBuilder.size()/from(): negative values are rejected
    # with an illegal_argument (400) in the reference
    if size < 0:
        raise ValueError("[size] parameter cannot be negative")
    if from_ < 0:
        raise ValueError("[from] parameter cannot be negative")
    sort = _sort_spec(body)
    script_fields = _script_fields(body)
    docvalue_fields = _docvalue_fields(body)
    source_cols = _source_cols(engine, body)
    track = body.get("track_total_hits", 10000)

    # post_filter (SearchSourceBuilder.postFilter): narrows the HITS
    # page only — total and aggregations see the unfiltered match set
    post_q = q
    if "post_filter" in body:
        post_q = Q.Bool(
            must=[q], filter=[Q.from_dict(body["post_filter"])]
        )

    total = None if track is False else engine.total_hits(q, track)

    rows: List = []
    collapse_inner = None  # (name, field, {group_key: [inner rows]})
    if size > 0:
        if "collapse" in body:
            # CollapseBuilder.java: keep each group's best hit (score
            # desc, id asc), page the groups by best-hit score — ONE
            # row_number window, no per-group work
            from pyspark.sql.window import Window

            ih = body["collapse"].get("inner_hits")
            fld = body["collapse"]["field"]
            ih_sort_cols = []
            if ih:
                for entry in ih.get("sort") or []:
                    if isinstance(entry, str):
                        ih_sort_cols.append((entry, "asc"))
                    else:
                        ((c, d),) = entry.items()
                        ih_sort_cols.append(
                            (c, (d.get("order", "asc")
                                 if isinstance(d, dict) else d))
                        )
            need = list(dict.fromkeys(
                [fld] + list(source_cols or []) + list(engine.id_cols)
                + [c for c, _d in ih_sort_cols]
            ))
            joined = (
                engine._apply_deletes(engine._score(post_q))
                .join(engine.docmap().select("_docid", *need), "_docid")
            )
            order = [F.desc("score")] + [F.asc(c) for c in engine.id_cols]
            w = Window.partitionBy(fld).orderBy(*order)
            ranked = joined.withColumn("__rk", F.row_number().over(w))
            rows = (
                ranked.filter(F.col("__rk") == 1)
                .orderBy(*order)
                .limit(size)
                .collect()
            )
            if ih and rows:
                # InnerHitBuilder under collapse: each returned group
                # expands to its own top-N (default sort = the collapse
                # order; an explicit inner sort gets its OWN window) —
                # one extra window pass restricted to the page's group
                # keys, never per-group jobs
                ih_size = int(ih.get("size", 3))
                ih_name = ih.get("name", fld)
                page_keys = [r[fld] for r in rows]
                if ih_sort_cols:
                    iorder = [
                        (F.asc(c) if d == "asc" else F.desc(c))
                        for c, d in ih_sort_cols
                    ] + [F.asc(c) for c in engine.id_cols]
                    wi = Window.partitionBy(fld).orderBy(*iorder)
                    inner_ranked = joined.withColumn(
                        "__rk", F.row_number().over(wi)
                    )
                else:
                    inner_ranked = ranked
                inner_rows = (
                    inner_ranked.filter(
                        F.col(fld).isin(page_keys)
                        & (F.col("__rk") <= ih_size)
                    )
                    .orderBy(F.col(fld), F.col("__rk"))
                    .collect()
                )
                inner_map: Dict = {}
                for r in inner_rows:
                    inner_map.setdefault(r[fld], []).append(r)
                collapse_inner = (ih_name, fld, inner_map)
        elif "rescore" in body:
            r = body["rescore"]
            rq = r["query"]
            rows = engine.rescore(
                post_q, rq["rescore_query"],
                window_size=int(r.get("window_size", 10)),
                query_weight=float(rq.get("query_weight", 1.0)),
                rescore_query_weight=float(rq.get("rescore_query_weight", 1.0)),
                score_mode=rq.get("score_mode", "total"),
                size=size,
            ).collect()
        else:
            rows = engine.search(
                post_q, size=size, from_=from_,
                source_cols=source_cols or None,
                sort=sort,
                search_after=body.get("search_after"),
                script_fields=script_fields,
                min_score=body.get("min_score"),
                terminate_after=body.get("terminate_after"),
                docvalue_fields=docvalue_fields,
            ).collect()

    # per-hit highlight via the oracle-verified fragment highlighter
    highlights: Dict[str, List[str]] = {}
    hl_field = None
    if body.get("highlight") and rows:
        h = body["highlight"]
        hl_field = next(iter(h.get("fields", {"text": {}})))
        opts = h["fields"][hl_field] if h.get("fields") else {}
        merged = {**h, **opts}
        # the fragment pass selects top-k by RELEVANCE; under a custom
        # sort the page may contain lower-relevance hits, so widen the
        # window (best-effort beyond 10x page size — documented; the
        # reference highlights during its fetch phase per returned hit)
        frag_k = size + from_ if sort is None else max(10 * (size + from_), 100)
        frags = engine.search_highlight_fragments(
            post_q, size=frag_k,
            pre_tag=(merged.get("pre_tags") or ["<em>"])[0],
            post_tag=(merged.get("post_tags") or ["</em>"])[0],
            fragment_size=int(merged.get("fragment_size", 100)),
            number_of_fragments=int(merged.get("number_of_fragments", 5)),
            order=merged.get("order"),
            no_match_size=int(merged.get("no_match_size", 0)),
            require_field_match=bool(merged.get("require_field_match", True)),
        ).collect()
        for fr in frags:
            highlights.setdefault(_hit_id(fr, engine.id_cols), []).append(
                fr["fragment"]
            )

    hits = []
    script_names = list(script_fields or ())
    dv_names = list(docvalue_fields or ())
    for r in rows:
        d = r.asDict()
        hit = {
            "_id": _hit_id(r, engine.id_cols),
            "_score": d.get("score"),
        }
        src = _hit_source(engine, d, body, source_cols)
        if src is not None:
            hit["_source"] = src
        flds = {n: [d[n]] for n in script_names + dv_names if n in d}
        if flds:
            hit["fields"] = flds
        if sort is not None:
            import decimal

            keys = []
            for col, _dir in sort:
                if col == "_score":
                    keys.append(d.get("score"))
                elif isinstance(col, str) and col in d:
                    v = d[col]
                    if isinstance(v, decimal.Decimal):
                        # unsigned_long doc values render as integers
                        v = int(v)
                    elif isinstance(v, datetime.datetime):
                        # date sort keys are epoch millis (DocValueFormat
                        # RAW over the date field's long doc values);
                        # PySpark collects naive LOCAL datetimes, which
                        # its own TimestampType converts back exactly
                        v = _TIMESTAMP.toInternal(v) // 1000
                    keys.append(v)
            hit["sort"] = keys
        hid = hit["_id"]
        if hid in highlights:
            hit["highlight"] = {hl_field: highlights[hid]}
        if collapse_inner is not None:
            ih_name, cfld, imap = collapse_inner
            grp = imap.get(d.get(cfld), [])
            hit["fields"] = {**hit.get("fields", {}), cfld: [d.get(cfld)]}
            hit["inner_hits"] = {ih_name: {"hits": {
                "total": {"value": len(grp), "relation": "eq"},
                "hits": [
                    {
                        "_id": _hit_id(x, engine.id_cols),
                        "_score": x["score"],
                        "_source": {
                            c: x[c]
                            for c in (list(source_cols or [])
                                      + list(engine.id_cols))
                            if c in x.asDict()
                        },
                    }
                    for x in grp
                ],
            }}}
        hits.append(hit)

    resp = {
        "took": int((time.monotonic() - t0) * 1000),
        "timed_out": False,
        "hits": {
            "max_score": max((h["_score"] for h in hits
                              if h["_score"] is not None), default=None),
            "hits": hits,
        },
    }
    if total is not None:
        # track_total_hits=false omits the total object entirely
        # (SearchResponseSections renders no total in that case)
        resp["hits"]["total"] = total
    if body.get("profile"):
        resp["profile"] = engine.profile(q, size=max(size, 1))
    if body.get("suggest"):
        resp["suggest"] = _run_suggest(engine, body["suggest"])
    if body.get("aggs") or body.get("aggregations"):
        spec = body.get("aggs") or body.get("aggregations")
        # the aggregation phase sees the FULL matched docset (deletes
        # applied), not the hits page — AggregationPhase.java semantics
        # keep the query score: top_hits sub-aggs default to _score sort
        matched = engine._apply_deletes(engine._score(q)).select(
            "_docid", "score"
        )
        frame = matched.join(engine.docmap(), "_docid")
        resp["aggregations"] = run_aggs(
            frame, spec, engine=engine, full_frame=engine.docmap()
        )
    return resp


def msearch_request(engine, bodies: Sequence[dict]) -> dict:
    """``_msearch`` over full request bodies (RestMultiSearchAction /
    MultiSearchResponse): run each body through :func:`search_request`
    and return ``{"took": ms, "responses": [...]}`` in request order.
    A body that raises contributes the reference's per-item error shape
    instead of failing the batch."""
    t0 = time.monotonic()
    responses = []
    for b in bodies:
        try:
            responses.append(search_request(engine, b))
        except Exception as e:  # per-item isolation, like the reference
            responses.append({"error": {
                "type": type(e).__name__, "reason": str(e)[:500],
            }})
    return {"took": int((time.monotonic() - t0) * 1000),
            "responses": responses}


def count_request(engine, body: Optional[dict] = None) -> dict:
    """``_count`` (RestCountAction): exact match count for the body's
    query (default match_all), reference response shape."""
    unknown = set(body or ()) - {"query"}
    if unknown:
        # RestCountAction rejects any root element other than `query`
        raise ValueError(
            f"request does not support {sorted(unknown)}"
        )
    q = Q.from_dict((body or {}).get("query", {"match_all": {}}))
    return {"count": int(engine.count(q)),
            "_shards": {"total": 1, "successful": 1, "skipped": 0,
                        "failed": 0}}


def analyze_request(body: dict) -> dict:
    """``_analyze`` API body (RestAnalyzeAction / AnalyzeAction): run a
    named ``analyzer`` or an inline ``tokenizer``/``filter``/
    ``char_filter`` chain over ``text`` (a string or a list — the
    reference keeps one position stream across list entries with a +1
    gap, TransportAnalyzeAction.analyze).  Response tokens carry
    ``token`` and ``position``; start/end offsets are not tracked
    through this engine's filter chains (documented deviation — the
    chain is the same one the Arrow indexing UDF runs)."""
    from opensearch_spark.analysis.chain import Analyzer

    if "analyzer" in body:
        spec = body["analyzer"]
    else:
        spec = {
            k: body[k]
            for k in ("tokenizer", "filter", "char_filter")
            if k in body
        }
        if not spec:
            spec = "standard"
    an = Analyzer.from_spec(spec)
    texts = body.get("text", "")
    if isinstance(texts, str):
        texts = [texts]
    out = []
    base = 0
    for t in texts:
        toks, pos = an(t)
        for tk, p in zip(toks, pos):
            out.append({"token": tk, "position": int(p) + base})
        if pos:
            base += int(max(pos)) + 1
    return {"tokens": out}
