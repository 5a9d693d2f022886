import pandas as pd

from nrtbench import gen


def _run(seed: int, cycles: int = 3):
    m = gen.NrtModel(gen.EntitySpec("src", "CT", ["k1"]), seed, 1000)
    return [m.batch(c, 100) for c in range(1, cycles + 1)], m


def test_nrt_batches_repeat_for_a_seed():
    (x, mx), (y, my) = _run(3), _run(3)
    for (ua, da), (ub, db) in zip(x, y):
        pd.testing.assert_frame_equal(ua, ub)
        pd.testing.assert_frame_equal(da, db)
    pd.testing.assert_frame_equal(mx.expected_silver(), my.expected_silver())
    (z, _) = _run(4)
    assert not x[0][0].equals(z[0][0])


def test_nrt_batch_mix_and_expected_state():
    m = gen.NrtModel(gen.EntitySpec("src", "CT", ["k1"]), 1, 1000)
    t = gen.NrtModel(gen.EntitySpec("src", "TMSTP", ["k1"]), 1, 1000)
    up, dl = m.batch(1, 100)
    t.batch(1, 100)
    assert len(up) == 90 and len(dl) == 10
    assert (up["k1"] >= 1000).sum() == 40  # inserts take fresh keys
    assert not set(dl["k1"]) & set(up["k1"])
    ct, ts = m.expected_silver(), t.expected_silver()
    assert len(ct) == 1000 + 40 - 10 and len(ts) == 1000 + 40  # TMSTP keeps deletes
    assert set(dl["k1"]).isdisjoint(ct["k1"])
    assert (ct.set_index("k1").loc[up["k1"], "qty"].to_numpy() == up["qty"].to_numpy()).all()


def test_composite_keys_share_k1_and_stay_unique():
    spec = gen.EntitySpec("src", "CT", ["k1", "k2"])
    m = gen.NrtModel(spec, 5, 1000)
    for c in range(1, 4):
        up, dl = m.batch(c, 100)
        assert len(up) == 90 and len(dl) == 10
        assert not up.duplicated(["k1", "k2"]).any()
        # deleted keys are not upserted in the same batch
        assert not set(zip(dl["k1"], dl["k2"])) & set(zip(up["k1"], up["k2"]))
    want = m.expected_silver()
    assert not want.duplicated(["k1", "k2"]).any()
    assert len(want) == 1000 + 3 * (40 - 10)
    # many k1 values are shared by rows with another k2
    assert want["k1"].duplicated().sum() > 100
    # the last batch's upserts are what silver holds for their keys
    got = want.set_index(["k1", "k2"]).loc[list(zip(up["k1"], up["k2"])), "qty"]
    assert (got.to_numpy() == up["qty"].to_numpy()).all()
