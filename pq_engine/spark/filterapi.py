"""Composable predicate pushdown — the reference's filter2 stack analog.

Reference: FilterApi builds a typed predicate algebra (eq, notEq, lt, ltEq,
gt, gtEq, in, and, or, not, userDefined — parquet-column/.../filter2/
predicate/FilterApi.java:110-330), LogicalInverseRewriter pushes ``not``
down to leaves by De Morgan, and RowGroupFilter evaluates the levels
cheapest-first per row group (statistics → dictionary → bloom,
parquet-hadoop/.../filter2/compat/RowGroupFilter.java:49-122); whatever
survives is re-checked record-level during assembly.

Here the same algebra composes over the PAGE TABLE: every leaf yields the
set of (split_id, batch_id) chunk keys it cannot disprove (stats may only
prove absence — chunks with omitted stats always survive), ``&`` intersects
key sets, ``|`` unions them, ``~`` rewrites the tree to negated leaves.
The pruner runs on the driver, before any data task, like parquet-java's
filters over the footer: ``filter_pages`` collects the probed columns'
metadata once (per data page one stats-level boolean per leaf, evaluated by
Catalyst, plus the dictionary/bloom rows of eq/in/contains columns), checks
dictionary and bloom membership in NumPy, and applies the surviving key set
to the page table as a literal filter (a proved miss reads no data page);
``residual_expr`` emits the exact row-level predicate as a Catalyst Column
for the decoded frame (the reference's record-level re-check).

``eq`` runs all three disprovers (stats range, chunk-dictionary membership,
bloom membership) exactly like RowGroupFilter's level list; ``udp`` is the
UserDefinedPredicate analog and takes a stats-level keep expression over
(min, max, null_count, n_rows) plus the row-level expression.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, functions as F


class Pred:
    def __and__(self, other: "Pred") -> "Pred":
        return And([self, other])

    def __or__(self, other: "Pred") -> "Pred":
        return Or([self, other])

    def __invert__(self) -> "Pred":
        return _invert(self)


@dataclass
class Leaf(Pred):
    kind: str
    col: str
    args: tuple = ()
    exprs: tuple = field(default=())  # udp: (stats_keep Column, row Column)


@dataclass
class And(Pred):
    parts: list


@dataclass
class Or(Pred):
    parts: list


def eq(col: str, v) -> Pred:
    return Leaf("eq", col, (v,))


def noteq(col: str, v) -> Pred:
    return Leaf("noteq", col, (v,))


def lt(col: str, v) -> Pred:
    return Leaf("lt", col, (v,))


def ltEq(col: str, v) -> Pred:
    return Leaf("lteq", col, (v,))


def gt(col: str, v) -> Pred:
    return Leaf("gt", col, (v,))


def gtEq(col: str, v) -> Pred:
    return Leaf("gteq", col, (v,))


def in_(col: str, values) -> Pred:
    # a first-class leaf, not Or-of-eq: the dictionary/bloom probes batch
    # every value into ONE pass (the reference's in-predicate handling —
    # DictionaryFilter/BloomFilterImpl visit(In))
    values = list(values)
    if not values:
        return Leaf("never", col)
    return Leaf("in", col, (tuple(values),))


def notin(col: str, values) -> Pred:
    return And([noteq(col, v) for v in values]) if values else Leaf("always", col)


def isnull(col: str) -> Pred:
    return Leaf("isnull", col)


def notnull(col: str) -> Pred:
    return Leaf("notnull", col)


def contains_eq(col: str, v) -> Pred:
    """``array_contains(col, v)`` over a LIST column — the reference's
    ``contains(eq(...))`` predicate on repeated fields (FilterApi.java:298,
    ContainsRewriter). List pages carry ELEMENT-level min/max/ndv (stats
    over values, not records — ColumnIndex semantics for repeated fields),
    and list-child chunk dictionaries disprove membership exactly like flat
    columns. Not invertible (NOT contains is never provable from stats —
    same restriction as the reference)."""
    return Leaf("contains_eq", col, (v,))


def contains_key_eq(col: str, v) -> Pred:
    """``map_contains_key(col, v)`` over a MAP column — the reference's
    ContainsRewriter covers the KEY field of the map group too
    (contains(eq(...)) addressed at ``col.key_value.key``). The shredded key
    leaf ``{col}#key_value#key`` is a repeated column carrying element-level
    stats and child chunk dictionaries, so the same disprover stack applies.
    Not invertible, like contains_eq."""
    return Leaf("contains_key", col, (v,))


def udp(col: str, stats_keep: Column, row: Column) -> Pred:
    """UserDefinedPredicate analog: ``stats_keep`` is a Catalyst boolean over
    the chunk-stats columns (`min`, `max`, `null_count`, `n_rows`) that must
    be TRUE whenever the chunk COULD contain a matching row (inverse of the
    reference's canDrop contract); ``row`` is the exact record-level
    predicate over the decoded frame."""
    return Leaf("udp", col, exprs=(stats_keep, row))


_NEG = {
    "eq": "noteq", "noteq": "eq",
    "lt": "gteq", "gteq": "lt",
    "lteq": "gt", "gt": "lteq",
    "isnull": "notnull", "notnull": "isnull",
    "always": "never", "never": "always",
}


def _invert(p: Pred) -> Pred:
    """LogicalInverseRewriter analog: push ``not`` to the leaves."""
    if isinstance(p, And):
        return Or([_invert(q) for q in p.parts])
    if isinstance(p, Or):
        return And([_invert(q) for q in p.parts])
    assert isinstance(p, Leaf)
    if p.kind == "udp":
        raise TypeError("cannot invert a user-defined predicate (FilterApi parity)")
    if p.kind in ("contains_eq", "contains_key"):
        raise TypeError("cannot invert contains (stats can never prove NOT-contains)")
    if p.kind == "in":
        return And([noteq(p.col, v) for v in p.args[0]])
    return Leaf(_NEG[p.kind], p.col, p.args)


# ----------------------------------------------------------------- evaluate

# leaves whose chunk dictionary can disprove them; eq/in also probe blooms
_MEMBER = ("eq", "in", "contains_eq", "contains_key")


def _cmp_cols(v):
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        cast_t = "decimal(20,0)" if isinstance(v, int) else "double"
        return F.col("min").cast(cast_t), F.col("max").cast(cast_t)
    return F.col("min"), F.col("max")


def _probe_col(leaf: Leaf) -> str:
    # contains over MAP KEYS targets the shredded key leaf (the parquet map
    # group's repeated key field)
    return f"{leaf.col}#key_value#key" if leaf.kind == "contains_key" else leaf.col


def _stats_keep(leaf: Leaf) -> Column:
    """Statistics level: TRUE on a data page of the leaf's column whose
    min/max/null_count/n_rows do NOT disprove it (omitted stats keep)."""
    kind = leaf.kind
    no_stats = F.col("min").isNull() | F.col("max").isNull()
    if kind == "udp":
        # the user expression is only consulted when min/max exist
        # (canDrop contract: prove absence)
        return no_stats | leaf.exprs[0]
    if kind == "isnull":
        return F.col("null_count") > 0
    if kind == "notnull":
        return F.col("null_count") < F.col("n_rows")
    values = leaf.args[0] if kind == "in" else (leaf.args[0],)
    mn, mx = _cmp_cols(values[0])
    if kind in _MEMBER:
        in_range = no_stats
        for v in values:
            in_range = in_range | ((mn <= F.lit(v)) & (mx >= F.lit(v)))
        return in_range
    v = F.lit(values[0])
    if kind == "noteq":
        # droppable only when every row provably equals v: min == max == v
        # and no nulls
        return ~(~no_stats & (mn == v) & (mx == v) & (F.col("null_count") == 0))
    bound = {"lt": mn < v, "lteq": mn <= v, "gt": mx > v, "gteq": mx >= v}
    if kind not in bound:
        raise ValueError(f"unknown predicate kind {kind!r}")
    return no_stats | bound[kind]


def _leaves(p: Pred) -> list:
    if isinstance(p, (And, Or)):
        return [leaf for q in p.parts for leaf in _leaves(q)]
    return [] if p.kind in ("always", "never") else [p]


def filter_pages(pages: DataFrame, pred: Pred) -> DataFrame:
    """Drop every chunk the predicate tree disproves (RowGroupFilter analog);
    decode the result, then apply :func:`residual_expr` for exactness.

    One collect (a Spark job, run at call time) brings the metadata to the
    driver: per data page of a probed column one stats-level boolean per
    leaf (Catalyst evaluates it), plus the dictionary/bloom rows of
    eq/in/contains columns."""
    import pyarrow.compute as pc

    from .engine import bloom_disproved, chunk_keys, dictionary_disproved, index_rows, select_chunks

    # one projected column per distinct Leaf: a tree may hold one twice (a | a)
    leaves = list({id(leaf): leaf for leaf in _leaves(pred)}.values())
    slot = {id(leaf): f"k{i}" for i, leaf in enumerate(leaves)}
    if leaves:
        data_page = lambda leaf: (F.col("column") == _probe_col(leaf)) & (F.col("page") >= 0)
        meta = index_rows(
            pages,
            {_probe_col(leaf) for leaf in leaves},
            {_probe_col(leaf) for leaf in leaves if leaf.kind in _MEMBER},
            [F.coalesce(F.when(data_page(leaf), _stats_keep(leaf)), F.lit(False))
             .alias(slot[id(leaf)]) for leaf in leaves],
        )

    def kept(p: Pred) -> set | None:  # None: every chunk
        if isinstance(p, Or):
            parts = [kept(q) for q in p.parts]
            return None if None in parts else set().union(*parts)
        if isinstance(p, And):
            parts = [s for s in map(kept, p.parts) if s is not None]
            return set.intersection(*parts) if parts else None
        if p.kind in ("always", "never"):
            return None if p.kind == "always" else set()
        keys = set(chunk_keys(meta.filter(meta[slot[id(p)]])))
        if p.kind in _MEMBER:
            # RowGroupFilter level order: statistics, then dictionary, then
            # bloom; every level is conservative
            keys -= dictionary_disproved(meta, _probe_col(p), p.args[0])
            if p.kind in ("eq", "in"):
                keys -= bloom_disproved(meta, p.col, p.args[0])
        return keys

    keys = kept(pred)
    if keys is None:
        return pages
    # keeping every chunk of the probed columns filters nothing: a literal
    # list of every key would only cost the data scan its parsing
    if keys and keys == set(chunk_keys(meta.filter(pc.greater_equal(meta["page"], 0)))):
        return pages
    return select_chunks(pages, keys)


def residual_expr(p: Pred) -> Column:
    """Record-level (exact) form of the predicate over the decoded frame."""
    if isinstance(p, And):
        out = residual_expr(p.parts[0])
        for q in p.parts[1:]:
            out = out & residual_expr(q)
        return out
    if isinstance(p, Or):
        out = residual_expr(p.parts[0])
        for q in p.parts[1:]:
            out = out | residual_expr(q)
        return out
    assert isinstance(p, Leaf)
    c = F.col(f"`{p.col}`")
    kind = p.kind
    if kind == "udp":
        return p.exprs[1]
    if kind == "always":
        return F.lit(True)
    if kind == "never":
        return F.lit(False)
    if kind == "isnull":
        return c.isNull()
    if kind == "notnull":
        return c.isNotNull()
    if kind == "in":
        return c.isin(list(p.args[0]))
    if kind == "contains_eq":
        return F.array_contains(c, F.lit(p.args[0]))
    if kind == "contains_key":
        return F.map_contains_key(c, F.lit(p.args[0]))
    v = p.args[0]
    return {
        "eq": c == F.lit(v),
        "noteq": c != F.lit(v),
        "lt": c < F.lit(v),
        "lteq": c <= F.lit(v),
        "gt": c > F.lit(v),
        "gteq": c >= F.lit(v),
    }[kind]
