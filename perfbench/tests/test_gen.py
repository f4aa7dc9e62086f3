from perfbench.gen import DocStream, OrderStream


def _orders(seed, rounds=4):
    g = OrderStream(seed, base_rows=2000, delete_every=2, delete_rows=10)
    return g, [g.next_batch() for _ in range(rounds)]


def test_same_seed_same_orders():
    g1, b1 = _orders(5)
    g2, b2 = _orders(5)
    assert g1.base() == g2.base()
    assert [(b.upserts, b.deletes) for b in b1] == \
        [(b.upserts, b.deletes) for b in b2]
    assert g1.digest.hexdigest() == g2.digest.hexdigest()
    assert g1.digest.batches == g2.digest.batches == 1 + 2 * 4


def test_other_seed_other_orders():
    g1, _ = _orders(5)
    g2, _ = _orders(6)
    assert g1.base() != g2.base()
    assert g1.digest.hexdigest() != g2.digest.hexdigest()


def test_order_batches_are_well_formed():
    g, batches = _orders(3, rounds=6)
    deleted = set()
    for b in batches:
        up = [r[0] for r in b.upserts]
        dl = [r[0] for r in b.deletes]
        assert len(set(up)) == len(up) == g.upsert_rows + g.new_per_round
        assert not set(up) & set(dl)
        assert not set(up) & deleted        # deleted keys stay deleted
        assert all(r[6] == b.round_no for r in b.upserts)
        deleted |= set(dl)
    assert [len(b.deletes) for b in batches] == [0, 10, 0, 10, 0, 10]


def _docs(seed, rounds=3):
    g = DocStream(seed, base_docs=200, batch_docs=100)
    g.start()
    return g, [g.next_batch() for _ in range(rounds)]


def test_same_seed_same_docs():
    g1, b1 = _docs(9)
    g2, b2 = _docs(9)
    assert g1.base() == g2.base()
    assert [(b.rows, b.kinds) for b in b1] == [(b.rows, b.kinds) for b in b2]
    assert g1.digest.hexdigest() == g2.digest.hexdigest()


def test_doc_batch_shares():
    g, batches = _docs(1)
    seen = {r[1] for r in g.base()}
    for b in batches:
        assert len(b.rows) == 100
        assert (len(b.ids("exact")), len(b.ids("near")),
                len(b.ids("junk")), len(b.ids("fresh"))) == (15, 10, 5, 70)
        texts = {r[0]: r[1] for r in b.rows}
        assert all(texts[i] in seen for i in b.ids("exact"))
        assert not any(texts[i] in seen for i in b.ids("fresh"))
        assert all(len(texts[i].split()) < 20 for i in b.ids("junk"))
        seen |= set(texts.values())
