"""Seeded inputs: the same seed gives identical inputs, checked by hash."""

from perfbench import gen

ALL = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
       "events", "documents", "embeddings")


def test_same_seed_same_tables():
    a = gen.digest(gen.star_tables(7, 0.001, ALL))
    assert a == gen.digest(gen.star_tables(7, 0.001, ALL))
    assert a != gen.digest(gen.star_tables(8, 0.001, ALL))


def test_same_seed_same_requests_and_queries():
    assert gen.explore_requests(3, 4) == gen.explore_requests(3, 4)
    assert gen.explore_requests(3, 4) != gen.explore_requests(4, 4)
    emb = gen.embeddings(3, 500)
    a, b = gen.query_batches(3, emb, 4, 8), gen.query_batches(3, emb, 4, 8)
    assert all((x == y).all() for x, y in zip(a, b))


def test_every_round_issues_every_kind_once_on_its_table():
    for seed in (5, 6):
        reqs = gen.explore_requests(seed, 3)
        for r in range(3):
            assert [(q.kind, q.table) for q in reqs[r * 5 : (r + 1) * 5]] == list(gen.EXPLORE_PLAN)
        assert all(q.lo < q.hi for q in reqs if q.kind == "hist")


def test_copy_corpus_is_disjoint_and_deterministic():
    base = gen.documents(9, 500, stream="curate_base").select(["doc_id", "text"])
    ten = gen.copy_corpus(base, 10)
    assert gen.digest({"c": ten}) == gen.digest({"c": gen.copy_corpus(base, 10)})
    ids = ten.column("doc_id").to_pylist()
    assert len(ids) == len(set(ids)) == 5000
    texts = ten.column("text").to_pylist()
    vocab = [set(t.split()) for t in texts[:500]], [set(t.split()) for t in texts[500:1000]]
    assert not set().union(*vocab[0]) & set().union(*vocab[1]) - set(gen.VOCAB)
