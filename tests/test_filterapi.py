"""Composable predicate pushdown (FilterApi / RowGroupFilter analog)."""

import pytest
from pyspark.sql import functions as F

from pq_engine.spark import filterapi as P
from pq_engine.spark.engine import decode_table, encode_table, table_ptypes


@pytest.fixture(scope="module")
def table(spark):
    df = spark.createDataFrame(
        [
            (
                i,
                ["alpha", "beta", "gamma", "delta"][i // 500],
                float(i),
                None if i % 100 == 0 else i * 2,
            )
            for i in range(2000)
        ],
        "id long, name string, score double, opt bigint",
    ).repartitionByRange(4, "id")  # clustered chunks, like a sorted ingest
    pages = encode_table(df, with_bloom=True, page_rows=250).cache()
    pages.count()
    return df, pages


def _chunks(pages):
    return pages.select("split_id", "batch_id").distinct().count()


def _decoded(df, pages, pred):
    out = decode_table(
        pages, ["id", "name", "score", "opt"], ptypes=table_ptypes(df)
    )
    return out.filter(P.residual_expr(pred))


def _expected(df, pred):
    return df.filter(P.residual_expr(pred))


def _check_exact(df, pages, pred):
    kept = P.filter_pages(pages, pred)
    got = {tuple(r) for r in _decoded(df, kept, pred).collect()}
    want = {tuple(r) for r in _expected(df, pred).collect()}
    assert got == want
    return kept


def test_and_or_composition_prunes_and_stays_exact(table):
    df, pages = table
    pred = (P.eq("name", "alpha") & P.ltEq("id", 300)) | P.gtEq("id", 1900)
    kept = _check_exact(df, pages, pred)
    assert _chunks(kept) < _chunks(pages)


def test_eq_uses_dict_and_bloom(table):
    df, pages = table
    # a value inside every chunk's min/max range but present nowhere:
    # stats can't disprove it, dictionary/bloom membership must
    kept = P.filter_pages(pages, P.eq("name", "gamma_nope"))
    assert _chunks(kept) == 0


def test_not_pushdown_de_morgan(table):
    df, pages = table
    pred = ~(P.lt("id", 1500) | P.eq("name", "delta"))
    inv = P._invert(P.lt("id", 1500) | P.eq("name", "delta"))
    assert isinstance(inv, P.And)
    _check_exact(df, pages, pred)


def test_in_notin_and_nulls(table):
    df, pages = table
    _check_exact(df, pages, P.in_("name", ["beta", "delta"]) & P.notnull("opt"))
    _check_exact(df, pages, P.isnull("opt"))
    kept = P.filter_pages(pages, P.notin("name", ["alpha"]))
    # alpha-only chunks are provably droppable (min==max=='alpha', no nulls)
    assert _chunks(kept) < _chunks(pages)


def test_udp_stats_and_row_level(table):
    df, pages = table
    pred = P.udp(
        "score",
        stats_keep=F.col("max").cast("double") >= 1995.0,
        row=F.col("score") >= 1995.0,
    )
    kept = _check_exact(df, pages, pred)
    assert _chunks(kept) < _chunks(pages)
    with pytest.raises(TypeError):
        ~pred


def test_stats_only_filter_keeping_every_chunk_is_no_filter(table):
    df, pages = table
    # every chunk has a score >= 0: the stats level keeps them all, and the
    # page table comes back without a filter listing every chunk key
    pred = P.udp("score", stats_keep=F.col("max").cast("double") >= 0.0,
                 row=F.col("score") >= 0.0)
    kept = _check_exact(df, pages, pred)
    assert "4294967296" not in kept._jdf.queryExecution().analyzed().toString()
    assert kept.count() == pages.count()


def test_never_always():
    assert P.in_("c", []).kind == "never"
    assert P.notin("c", []).kind == "always"


def test_in_batched_dict_bloom_disproof(table):
    df, pages = table
    # both probes inside global min/max but present nowhere: only the
    # batched dictionary/bloom pass can disprove them — and in ONE job
    kept = P.filter_pages(pages, P.in_("name", ["bzzz", "gamma_x"]))
    assert _chunks(kept) == 0
    # one real + one absent value: exactness preserved
    _check_exact(df, pages, P.in_("name", ["alpha", "bzzz"]))
    # inversion rewrites to AND of noteq
    inv = ~P.in_("name", ["alpha", "beta"])
    assert isinstance(inv, P.And)
    _check_exact(df, pages, inv)


def test_udp_keeps_omitted_stats_chunks(spark):
    from pq_engine.spark.engine import encode_table

    # blob-sized values exceed the stats cutoff → min/max omitted; a udp
    # whose stats expression would evaluate NULL must still keep the chunk
    df = spark.createDataFrame(
        [(i, "x" * 900) for i in range(50)], "id long, blob string"
    ).coalesce(1)
    pages = encode_table(df).cache()
    probe = pages.filter((F.col("column") == "blob") & (F.col("page") >= 0))
    if probe.filter(F.col("min").isNull()).count() == 0:
        import pytest as _pt

        _pt.skip("fixture did not trigger stats omission")
    pred = P.udp("blob", stats_keep=F.col("max") >= "zzz", row=F.col("blob") >= "zzz")
    kept = P.filter_pages(pages, pred)
    assert kept.filter((F.col("column") == "blob") & (F.col("page") >= 0)).count() > 0


def test_contains_eq_on_list_column(spark):
    """contains(eq) over a repeated field: element-level page stats prune
    by range; list-child chunk dictionaries disprove membership exactly."""
    from pq_engine.spark.engine import decode_table, encode_table, table_ptypes

    df = spark.createDataFrame(
        [
            (i, [["alpha", "beta"], ["gamma", "delta"], ["mu", "nu"], ["x", "y"]][i // 500])
            for i in range(2000)
        ],
        "id long, tags array<string>",
    ).repartitionByRange(4, "id")
    pages = encode_table(df, page_rows=250).cache()
    # stats-range disproof: 'zzz' is above every chunk's element max
    assert P.filter_pages(pages, P.contains_eq("tags", "zzz")) \
        .select("split_id", "batch_id").distinct().count() == 0
    # dictionary disproof: in-range value present in no chunk's dictionary
    assert P.filter_pages(pages, P.contains_eq("tags", "bz")) \
        .select("split_id", "batch_id").distinct().count() == 0
    # real value: prunes to its chunk, exact after residual
    pred = P.contains_eq("tags", "gamma")
    kept = P.filter_pages(pages, pred)
    n_chunks = kept.select("split_id", "batch_id").distinct().count()
    assert n_chunks < pages.select("split_id", "batch_id").distinct().count()
    out = decode_table(kept, ["id", "tags"], ptypes=table_ptypes(df))
    got = sorted(r["id"] for r in out.filter(P.residual_expr(pred)).collect())
    want = sorted(r["id"] for r in df.filter(F.array_contains("tags", "gamma")).collect())
    assert got == want
    with pytest.raises(TypeError):
        ~pred


def test_contains_key_on_map_column(spark):
    """contains over MAP KEYS (r4, ContainsRewriter covers keys too): the
    shredded key leaf `{col}#key_value#key` carries element-level stats and
    child dictionaries — pruning and residual work end-to-end through the
    shred/assemble path."""
    from pq_engine.spark.engine import table_ptypes
    from pq_engine.spark.shred import decode_shredded, encode_shredded, shred

    df = spark.createDataFrame(
        [
            (i, {["alpha", "beta", "gamma", "delta"][i // 500]: i})
            for i in range(2000)
        ],
        "id long, m map<string,bigint>",
    ).repartitionByRange(4, "id")
    flat, _ = shred(df)
    pages, spec = encode_shredded(df)
    pages = pages.cache()
    # stats-range disproof on the key leaf
    assert P.filter_pages(pages, P.contains_key_eq("m", "zzz")) \
        .select("split_id", "batch_id").distinct().count() == 0
    # in-range but absent key: dictionary disproof
    assert P.filter_pages(pages, P.contains_key_eq("m", "bz")) \
        .select("split_id", "batch_id").distinct().count() == 0
    pred = P.contains_key_eq("m", "gamma")
    kept = P.filter_pages(pages, pred)
    assert kept.select("split_id", "batch_id").distinct().count() \
        < pages.select("split_id", "batch_id").distinct().count()
    out = decode_shredded(kept, spec, table_ptypes(flat))
    got = sorted(r["id"] for r in out.filter(P.residual_expr(pred)).collect())
    want = sorted(r["id"] for r in df.filter(F.map_contains_key("m", "gamma")).collect())
    assert got == want and len(got) == 500
    with pytest.raises(TypeError):
        ~pred


def test_in_with_flba_probe_list(spark):
    """Batched in-predicate over an FLBA (UUID) column (r4): probe lists
    convert to stored 16-byte rows for the dictionary level and to bloom
    keys for the bloom level — one job per level regardless of probe count;
    FLBA chunks omit min/max so the stats level never wrongly drops."""
    import uuid as uuidlib

    from pq_engine.spark.engine import decode_table, encode_table, table_ptypes

    us = [str(uuidlib.uuid5(uuidlib.NAMESPACE_DNS, str(i // 500))) for i in range(2000)]
    df = spark.createDataFrame(
        [(i, us[i]) for i in range(2000)], "id long, u string"
    ).repartitionByRange(4, "id")
    pages = encode_table(
        df, ptype_overrides={"u": "uuid"}, codec={"u": "dict", "id": "auto"},
        with_bloom=True, page_rows=250,
    ).cache()
    present = us[0]
    present2 = us[1999]
    absent = str(uuidlib.uuid5(uuidlib.NAMESPACE_DNS, "nope"))
    # absent probes: every chunk disproved by dictionary/bloom
    assert P.filter_pages(pages, P.in_("u", [absent])) \
        .select("split_id", "batch_id").distinct().count() == 0
    # mixed probe list keeps exactly the chunks holding either value
    pred = P.in_("u", [present, present2, absent])
    kept = P.filter_pages(pages, pred)
    n_all = pages.select("split_id", "batch_id").distinct().count()
    n_kept = kept.select("split_id", "batch_id").distinct().count()
    assert 0 < n_kept < n_all
    ptypes = table_ptypes(df)
    ptypes["u"] = "uuid"
    out = decode_table(kept, ["id", "u"], ptypes=ptypes)
    got = sorted(r["id"] for r in out.filter(P.residual_expr(pred)).collect())
    want = sorted(r["id"] for r in df.filter(F.col("u").isin([present, present2])).collect())
    assert got == want and len(got) == 1000


def test_fixed_dict_pruning_in_list(spark):
    """FLBA fixed[8] leaf, dict-encoded, low NDV: the batched in-list path
    must disprove chunks from the CHUNK DICTIONARY alone (L2) — probes map
    through value_to_fixed exactly like the dict page rows (VERDICT r4 #9)."""
    import hashlib

    rows = [(i, hashlib.md5(str(i // 1000).encode()).digest()[:8])
            for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, fx binary").repartitionByRange(4, "id")
    pages = encode_table(
        df, codec={"fx": "dict", "id": "auto"},
        ptype_overrides={"fx": "fixed[8]"},
    ).cache()
    # no blooms here: any pruning is the dictionary's doing
    assert pages.filter("page = -1").count() == 0
    assert pages.filter("page = -2 AND column = 'fx'").count() == 4
    p0 = hashlib.md5(b"0").digest()[:8]
    p3 = hashlib.md5(b"3").digest()[:8]
    absent = hashlib.md5(b"nope").digest()[:8]
    assert P.filter_pages(pages, P.eq("fx", absent)) \
        .select("split_id", "batch_id").distinct().count() == 0
    kept = P.filter_pages(pages, P.in_("fx", [p0, p3, absent]))
    n_all = pages.select("split_id", "batch_id").distinct().count()
    n_kept = kept.select("split_id", "batch_id").distinct().count()
    # range partition boundaries come from SAMPLING, so a chunk may
    # straddle two value groups — assert pruning happened, not an exact
    # chunk count (the absent-probe == 0 case above is the crisp check)
    assert 0 < n_kept < n_all, (n_kept, n_all)
    out = decode_table(kept, ["id", "fx"],
                       ptypes={"id": "int64", "fx": "fixed[8]"})
    pred = P.in_("fx", [p0, p3, absent])
    got = sorted(r["id"] for r in out.filter(P.residual_expr(pred)).collect())
    assert got == list(range(1000)) + list(range(3000, 4000))
