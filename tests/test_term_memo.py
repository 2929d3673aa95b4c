"""Per-term memos on shared TermCells (cell cache, preload tier, batch
tasks): a warm query reuses the term's full decode, block bounds and
tf_norm array, and must stay BIT-identical to an uncached searcher —
no rounding anywhere in this file. Also: local results stay numpy until
the public surface (top_docs returns Python scalars), the cache budget
bounds the memos actually resident, and pruned disjunctions sum in a
plan-derived order so multi-reducer distributed runs match the driver
to the last bit."""

import numpy as np
from pyspark.sql import functions as F

from montezuma_spark.fixtures import search_docs_df, synth_web_pages_df
from montezuma_spark.index import FieldConfig, Index, IndexConfig, build_index
from montezuma_spark.search import (
    MUST,
    MUST_NOT,
    SHOULD,
    PhraseQuery,
    Searcher,
    SpanNearQuery,
    TermQuery,
    WildcardQuery,
    bool_query,
)
from montezuma_spark.search.kernel import (
    CompiledPlan,
    ShardEval,
    make_kernel_multi,
)

F_CFG = dict(
    fields=[FieldConfig("field", "field", "whitespace")],
    key_col="url",
    shard_bits=2,  # several shards → multi-cell terms
    block_size=4,
)

QUERIES = [
    TermQuery("field", "word2"),
    TermQuery("field", "quick", boost=2.5),
    bool_query(
        (TermQuery("field", "word1"), SHOULD),
        (TermQuery("field", "word2"), SHOULD),
        (TermQuery("field", "word3"), SHOULD),
    ),
    bool_query(
        (TermQuery("field", "word1"), MUST),
        (TermQuery("field", "word2"), SHOULD),
        (TermQuery("field", "word3"), MUST_NOT),
    ),
    PhraseQuery.of("field", ["word1", "word2"]),
    PhraseQuery.of("field", ["quick", "brown"], slop=2),
    SpanNearQuery.of("field", ["word1", "word3"], slop=3),
    WildcardQuery("field", "word*"),
]


def _saved(spark, path, boost=False):
    docs = search_docs_df(spark)
    kw = {}
    if boost:
        docs = docs.withColumn(
            "boost", (F.col("docid_expected") % 5 + 0.5).cast("double")
        )
        kw["boost_col"] = "boost"
    build_index(spark, docs, IndexConfig(**F_CFG, **kw)).save(path)
    return Index.load(spark, path)


def _assert_warm_equals_cold(idx, **kw):
    cold = Searcher(idx, cell_cache_bytes=0, **kw)
    warm = Searcher(idx, **kw)
    for k in (10, 3, None):
        want = [cold.top_docs(q, k=k) for q in QUERIES]
        for _ in range(2):  # first pass fills the cache, second is warm
            assert [warm.top_docs(q, k=k) for q in QUERIES] == want
    assert warm._cell_cache, "the cached tier never served"


def test_warm_equals_uncached_exact(spark, tmp_path):
    idx = _saved(spark, str(tmp_path / "ix"))
    _assert_warm_equals_cold(idx)
    _assert_warm_equals_cold(idx, similarity="classic")


def test_warm_equals_uncached_boosted(spark, tmp_path):
    _assert_warm_equals_cold(_saved(spark, str(tmp_path / "ix"), boost=True))


def test_warm_equals_uncached_after_deletes(spark, tmp_path):
    idx = _saved(spark, str(tmp_path / "ix"))
    s = Searcher(idx)
    for q in QUERIES:  # memos taken BEFORE the deletes
        s.top_docs(q, k=10)
    idx.delete_docs([1, 4, 9])
    cold = Searcher(idx, cell_cache_bytes=0)
    for q in QUERIES:
        got = s.top_docs(q, k=10)
        assert got == cold.top_docs(q, k=10)
        assert not {1, 4, 9} & {d for d, _ in got}


def test_top_docs_returns_python_scalars(spark, tmp_path):
    s = Searcher(_saved(spark, str(tmp_path / "ix")))
    for _ in range(2):
        hits = s.top_docs(QUERIES[2], k=5)
        assert hits
        for d, sc in hits:
            assert type(d) is int and type(sc) is float


def _resident_memo_bytes(searcher) -> int:
    """Bytes of every memo array the cache pins, each buffer counted
    once (row memos are views into the term arrays)."""
    roots: dict = {}

    def add(arrays):
        for a in arrays or ():
            if isinstance(a, np.ndarray):
                while isinstance(a.base, np.ndarray):
                    a = a.base
                roots[id(a)] = a.nbytes

    for tc, _charged in searcher._cell_cache.values():
        add(tc.full)
        if tc._memo is not None:
            for v in tc._memo[1].values():
                add(v if isinstance(v, tuple) else (v,))
        for r in tc.rows:
            add(r.full)
            add(r.full_pos)
    return sum(roots.values())


def test_cache_budget_bounds_resident_memos(spark, tmp_path):
    d = str(tmp_path / "ix")
    build_index(
        spark, synth_web_pages_df(spark, 600),
        IndexConfig(fields=[FieldConfig("text", "text", "simple")],
                    key_col="url", shard_bits=6),
    ).save(d)
    s = Searcher(Index.load(spark, d))
    words = ["spark", "index", "query", "shuffle", "vector", "rank"]
    qs = [TermQuery("text", w) for w in words] + [
        bool_query(*[(TermQuery("text", w), SHOULD) for w in words[i:i + 3]])
        for i in range(4)
    ] + [PhraseQuery.of("text", words[i:i + 2]) for i in range(5)]
    for _ in range(2):
        for q in qs:
            s.top_docs(q, k=10)
    resident = _resident_memo_bytes(s)
    assert resident > 0
    assert resident <= s._cell_cache_size


def test_multi_reducer_distributed_parity_exact(spark, monkeypatch):
    """Pruned disjunctions order terms by (-(idf·boost), field, term),
    never by a shard's own bounds, so every reducer sums a doc's
    contributions in the driver's order: distributed scores equal local
    ones bit for bit with many reducers."""
    import montezuma_spark.search.searcher as searcher_mod

    idx = build_index(
        spark, synth_web_pages_df(spark, 2000, seed=7),
        IndexConfig(fields=[FieldConfig("text", "text", "simple")],
                    key_col="url", shard_bits=6),
    )
    words = sorted({
        "spark", "index", "term", "query", "search", "merge", "sort",
        "shuffle", "partition", "broadcast", "filter", "join", "scan",
        "parquet", "arrow", "vector", "batch", "stream",
    })
    rng = np.random.default_rng(3)
    queries = {
        f"q{i}": bool_query(*[
            (TermQuery("text", str(w)), SHOULD)
            for w in rng.choice(words, size=3, replace=False)
        ])
        for i in range(32)
    }
    monkeypatch.setattr(searcher_mod, "POSTINGS_PER_TASK", 100)
    dist = Searcher(idx, distributed=True)
    plan, resolved, _ = dist._compile(queries["q0"], 10)
    assert dist._reducer_count(dist._needed_terms(resolved), plan.df_est) > 1
    rows = dist.search_batch(queries, k=10).collect()
    local = Searcher(idx)
    for qid, q in queries.items():
        got = [(r["docid"], r["score"]) for r in rows if r["qid"] == qid]
        assert got == local.top_docs(q, k=10), qid


def test_multi_kernel_yields_one_frame_per_task(spark):
    """make_kernel_multi emits ONE (qid, docid, score) frame per task,
    not one per plan."""
    idx = build_index(spark, search_docs_df(spark), IndexConfig(**F_CFG))
    s = Searcher(idx, distributed=True)
    plans = [
        (f"q{i}", s._compile(q, 5)[0])
        for i, q in enumerate(QUERIES[:4])
    ]
    pdf = s._postings_for({"field": {"word1", "word2", "word3", "quick"}},
                          False).toPandas()
    frames = list(make_kernel_multi(plans)(iter([pdf])))
    assert len(frames) == 1
    out = frames[0]
    assert list(out.columns) == ["qid", "docid", "score"]
    for qid, plan in plans:
        got = sorted(
            zip(*(out[out["qid"] == qid][c].tolist() for c in ("docid", "score"))),
            key=lambda t: (-t[1], t[0]),
        )
        assert got == Searcher(idx).top_docs(plan.query, k=5)


def test_early_span_skips_k_zero():
    """k <= 0 never enters the docid-order span rounds (no k-th match to
    stop at); the exhaustive path returns the empty page."""
    q = SpanNearQuery.of("f", ["a", "b"], slop=1)
    plan = CompiledPlan(
        query=q, idf={}, df_est={("f", "a"): 1 << 30, ("f", "b"): 1 << 30},
        stats={}, k1=1.2, b=0.75, k=0, need_positions=True,
    )
    assert ShardEval(plan, [])._try_early_span(q) is None
