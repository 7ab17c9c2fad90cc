"""Transparent file-skipping rewrite — the composed zonemap+Bloom
index (sources/sinks.py) wired into the try-rewrite-else-fall-through
optimizer contract (/root/reference/src/optimizer.rs:14-39), the same
seam the MV rewrite (plans/mv.py) uses.

A user writes an ordinary filter/aggregate against the BASE table; if
the analyzed plan is a conjunctive point/range predicate over the
indexed columns above the base scan, the frame is rewritten to read
ONLY the index-surviving files (zonemap range overlap, then Bloom
membership over the survivors) with the FULL original predicate
re-applied below — so pruning only ever removes whole files the
predicate can't touch, never rows. Any other shape returns the
ORIGINAL frame unchanged: semantics-preserving or absent, never
wrong.

Eligibility walks the ANALYZED condition tree (ADVICE r9 #1 — the
earlier regex over the rendered SQL could mistake a comparison
nested inside CASE/WHEN for a top-level conjunct and prune by a
non-binding atom): an indexed atom (``range_col >= / <=`` or
``point_col =`` integer literal) is accepted only when its
comparison node is itself a top-level AND conjunct, which makes
pruning sound by construction — the predicate always implies such
an atom, whatever the other conjuncts contain. Residual conjuncts
are fine: the whole predicate re-applies on the pruned scan.

Scale: the zonemap stage is driver-side manifest metadata (KBs at
any table size); the Bloom stage reads bit-pruned slices of the
file-keyed index table; the data scan opens only the surviving files
— at 100 TB a point-in-range dashboard query touches a handful of
files instead of the clustered range's hundreds.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .mv import _base_matches, _seq, _strip_base_qualifier


@dataclass
class SkippingIndex:
    """Handle to a composed skipping index over one base table."""

    base_table: str  #: unqualified base table name (SubqueryAlias id)
    root: str  #: index root (manifest.json, schema.json, data/, bloom/)
    manifest: dict  #: file -> [min, max] zonemap over range_col
    m: int  #: bloom bitmap width
    range_col: str  #: zonemap column (e.g. l_orderkey)
    point_col: str  #: bloom column (e.g. l_suppkey)


def _split_conjuncts(expr) -> list:
    """Flatten a Catalyst condition tree into its top-level AND
    conjuncts (a non-And node is its own single conjunct)."""
    if expr.getClass().getSimpleName() == "And":
        return _split_conjuncts(expr.left()) + _split_conjuncts(expr.right())
    return [expr]


def _conjunct_atom(expr, base_table: str):
    """(class_name, col, int_value) if this conjunct IS an
    ``attr <op> integer-literal`` comparison on a base-table column
    (literal possibly under a widening Cast), else None. Walking the
    analyzed tree — not the rendered SQL — means a comparison nested
    inside CASE/WHEN/IF/coalesce can never be mistaken for a
    top-level conjunct (ADVICE r9 #1: the regex form treated
    ``CASE WHEN l_suppkey = 2 ... END = 1`` as a ``l_suppkey = 2``
    atom and pruned by a non-binding predicate)."""

    _ORDER_PRESERVING = ("tinyint", "smallint", "int", "bigint")

    def unwrap(e):
        # Only strip casts whose TARGET type orders integers the same
        # way integers do (numeric widening). A CAST(col AS STRING)
        # comparison is lexicographic — '31' > '300' — so accepting it
        # as a numeric range atom would prune files that satisfy the
        # real predicate (ADVICE r10 #1). Decimal widening of an
        # integral child is order-preserving; float/double are NOT
        # accepted (ADVICE r11 #4): beyond 2^53, cast(col AS DOUBLE)
        # >= L can hold while col < L after rounding, so a float-cast
        # atom could prune a file that contains a matching row — and
        # no known Catalyst rewrite emits that pattern anyway.
        while e.getClass().getSimpleName() == "Cast":
            tgt = e.dataType().simpleString()
            if not (
                tgt in _ORDER_PRESERVING
                or tgt.startswith("decimal")
            ):
                return e  # non-numeric cast survives → atom rejected below
            e = e.child()
        return e

    nm = expr.getClass().getSimpleName()
    if nm not in ("GreaterThanOrEqual", "LessThanOrEqual", "EqualTo"):
        return None
    left, right = unwrap(expr.left()), unwrap(expr.right())
    if (
        left.getClass().getSimpleName() != "AttributeReference"
        or right.getClass().getSimpleName() != "Literal"
    ):
        return None  # literal-on-left / col-vs-col: conservative
    quals = [q for q in _seq(left.qualifier())]
    if quals and quals[-1] != base_table:
        return None  # names another relation's column
    try:
        val = int(str(right.value()))
    except (TypeError, ValueError):
        return None  # non-integral literal: not an indexed atom
    return nm, left.name(), val


def _extract_atoms(cond_expr, idx: SkippingIndex):
    """(lo, hi, key) extracted from the analyzed condition tree, or
    None if the predicate shape is ineligible. Any atom may be
    absent. Sound by construction: an atom is accepted only when its
    comparison node is itself a top-level conjunct, so the whole
    predicate always implies the atom — other conjuncts may contain
    OR/NOT/CASE freely, since the full predicate is re-applied on
    the pruned scan."""
    found: dict[tuple[str, str], list[int]] = {}
    for conj in _split_conjuncts(cond_expr):
        atom = _conjunct_atom(conj, idx.base_table)
        if atom is not None:
            nm, col, val = atom
            found.setdefault((nm, col), []).append(val)

    def one(col: str, nm: str):
        vals = found.get((nm, col), [])
        # exactly-one discipline: duplicate same-op atoms on the same
        # column are ambiguous — fall through rather than pick one
        return vals[0] if len(vals) == 1 else None

    lo = one(idx.range_col, "GreaterThanOrEqual")
    hi = one(idx.range_col, "LessThanOrEqual")
    key = one(idx.point_col, "EqualTo")
    if lo is None and hi is None and key is None:
        return None  # nothing indexed in the predicate
    if (lo is None) != (hi is None):
        return None  # half-open range: zonemap probe API is closed
    return lo, hi, key


def _try_filter_scan(
    spark: SparkSession, node, idx: SkippingIndex
) -> DataFrame | None:
    """Rewrite ``Filter(base scan)`` to the pruned-file scan with the
    full predicate re-applied; None if not that shape."""
    from ..sources.sinks import composed_skip_files, zonemap_prune

    if node.getClass().getSimpleName() != "Filter":
        return None
    if not _base_matches(node.child(), idx.base_table):
        return None
    cond = node.condition().sql()
    atoms = _extract_atoms(node.condition(), idx)
    if atoms is None:
        return None
    lo, hi, key = atoms
    if lo is None:
        bounds = [b for mm in idx.manifest.values() for b in mm]
        lo, hi = min(bounds), max(bounds)
    if key is None:
        files = zonemap_prune(idx.manifest, lo, hi)
    else:
        _, files = composed_skip_files(
            spark, idx.root, idx.manifest, idx.m, lo, hi, key
        )
    # re-apply the FULL original predicate (dequalified; typed
    # literal suffixes stripped outside string literals — the mv.py
    # discipline) on the pruned scan
    plain = re.sub(
        r"\b(\d+(?:\.\d+)?(?:[eE][-+]?\d+)?)(?:BD|[DLSYF])\b",
        lambda m: (
            m.group(0) if cond.count("'", 0, m.start()) % 2 == 1 else m.group(1)
        ),
        cond,
    )
    plain = _strip_base_qualifier(plain, idx.base_table)
    out = _serve(spark, idx, files, plain)
    out.schema  # force analysis inside the guard
    return out


def _serve(
    spark: SparkSession, idx: SkippingIndex, files: list[str], predicate: str
) -> DataFrame:
    """The pruned scan: the surviving ``files`` read with the index's
    recorded data schema (so building it starts no Spark job), the
    full predicate re-applied. No surviving file is a zero-read scan."""
    from ..sources.sinks import composed_schema, read_written

    data = read_written(spark, composed_schema(idx.root, "data"), *files)
    return data.filter(F.expr(predicate))


def _raise():
    raise ValueError("plan not servable from skipping index")


def skipping_rewrite(
    df: DataFrame, idx: SkippingIndex, strict: bool = False
) -> DataFrame:
    """Serve ``df`` through the skipping index if its plan is an
    eligible point/range filter over the base table (optionally under
    a Project or an Aggregate), else return ``df`` unchanged (or
    raise with ``strict=True``, for callers that must KNOW the pruned
    path executed)."""
    spark = df.sparkSession
    plan = df._jdf.queryExecution().analyzed()
    out = None
    try:
        nm = plan.getClass().getSimpleName()
        if nm == "Filter":
            out = _try_filter_scan(spark, plan, idx)
        elif nm in ("Project", "Aggregate"):
            inner = _try_filter_scan(spark, plan.child(), idx)
            if inner is not None:
                if nm == "Project":
                    sel = []
                    for e in _seq(plan.projectList()):
                        if e.getClass().getSimpleName() == "Alias":
                            e_in, name = e.child(), e.name()
                        else:
                            e_in, name = e, e.name()
                        sql = _strip_base_qualifier(e_in.sql(), idx.base_table)
                        sel.append(F.expr(sql).alias(name))
                    out = inner.select(*sel)
                else:
                    # grouping expressions must be plain column refs
                    # (computed dims fall through — the conservative
                    # contract)
                    group_sqls = []
                    for g in _seq(plan.groupingExpressions()):
                        if g.getClass().getSimpleName() != "AttributeReference":
                            return df if not strict else _raise()
                        group_sqls.append(
                            _strip_base_qualifier(g.sql(), idx.base_table)
                        )
                    agg_exprs, order = [], []
                    for e in _seq(plan.aggregateExpressions()):
                        if e.getClass().getSimpleName() == "Alias":
                            e_in, name = e.child(), e.name()
                        else:
                            e_in, name = e, e.name()
                        sql = _strip_base_qualifier(e_in.sql(), idx.base_table)
                        if sql in group_sqls:
                            order.append((sql, name))
                        else:
                            agg_exprs.append(F.expr(sql).alias(name))
                            order.append((name, name))
                    if not agg_exprs:
                        out = None
                    else:
                        res = (
                            inner.groupBy(*[F.col(s) for s in group_sqls]).agg(
                                *agg_exprs
                            )
                            if group_sqls
                            else inner.agg(*agg_exprs)
                        )
                        out = res.select(
                            *[F.col(src).alias(name) for src, name in order]
                        )
                if out is not None:
                    out.schema  # force analysis inside the guard
    except Exception:
        out = None
    if out is None:
        if strict:
            raise ValueError("plan not servable from skipping index")
        return df
    return out
