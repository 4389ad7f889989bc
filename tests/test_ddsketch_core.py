"""Semantics & property tests for the numpy DDSketch core.

Reproduces the reference harness's test obligations (SURVEY.md §5.1):
accuracy vs exact order-statistic oracle, merge equivalence, delete
round-trip, bounded-bucket behavior, plus the north-star merge-algebra gate
(byte-identical canonical state under merge reordering).
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from ddsketch_spark.config import FIRST, GAMMA2, LAST, DDSketchConfig
from ddsketch_spark.core import ddsketch as dds
from tests.reference_oracle import Q_GRID, exact_quantile, reference_streams

CFG = DDSketchConfig()  # offset=2^31/2, bin_limit=500, alpha=0.008


def build(values, **kw):
    cfg = DDSketchConfig(**kw) if kw else CFG
    sk = dds.empty(cfg)
    dds.add(sk, np.asarray(values, dtype=np.float64))
    return sk


# -- key math ---------------------------------------------------------------

def test_key_math_matches_formula():
    cfg = CFG
    vals = np.array([1.5, 2.5, -3.0, 0.0, 100.0, 1e-9, -1e-9, 1e12])
    keys = dds.compute_keys(vals, cfg.ln_gamma, cfg.offset)
    for v, k in zip(vals, keys):
        if v > 0:
            assert k == math.ceil(math.log(v) / cfg.ln_gamma) + cfg.offset
        elif v < 0:
            assert k == -math.ceil(math.log(-v) / cfg.ln_gamma) - cfg.offset
        else:
            assert k == 0


def test_key_order_preserves_value_order():
    rng = np.random.default_rng(7)
    v = np.sort(np.concatenate([rng.uniform(-1e6, 1e6, 5000), [0.0]]))
    k = dds.compute_keys(v, CFG.ln_gamma, CFG.offset)
    assert (np.diff(k) >= 0).all()


def test_midpoint_estimate_alpha_guarantee():
    # |est - v| / |v| <= alpha for every v in the bucket of key(v)
    rng = np.random.default_rng(11)
    v = np.concatenate([rng.uniform(-1e5, 1e5, 20000), rng.uniform(-1e-3, 1e-3, 20000)])
    v = v[v != 0]
    k = dds.compute_keys(v, CFG.ln_gamma, CFG.offset)
    est = dds.key_to_estimate(k, CFG.gamma, CFG.offset)
    rel = np.abs(est - v) / np.abs(v)
    assert rel.max() <= CFG.alpha + 1e-12


def test_collapse_key_pairing():
    # positive stored: stripped pairs (2j-1, 2j) -> j; negative stored:
    # magnitudes pair (2j-1, 2j) -> j i.e. floor(s/2) on the stripped key
    off = CFG.offset
    stored = np.array([off + 1, off + 2, off + 3, off + 4, -off - 1, -off - 2, off - 3, 0])
    out = dds.collapse_keys(stored, off)
    assert list(out[:4] - off) == [1, 1, 2, 2]
    assert list(out[4:6] + off) == [-1, -1]
    assert out[6] - off == -1  # positive stored, stripped -3: ceil(-3/2) = -1
    assert out[7] == 0


def test_collapse_key_negative_stripped():
    off = CFG.offset
    # values in (0,1) have negative stripped keys but positive stored keys
    stored = np.array([off - 3, off - 4, off - 5, off - 6])
    out = dds.collapse_keys(stored, off) - off
    assert list(out) == [-1, -2, -2, -3]


def test_collapse_key_equals_direct_rekeying():
    # remapping level-0 keys == keying values directly at gamma^2
    cfg = CFG
    rng = np.random.default_rng(13)
    v = np.concatenate([rng.uniform(1e-6, 1e6, 20000),
                        -rng.uniform(1e-6, 1e6, 20000), [0.0]])
    k0 = dds.compute_keys(v, cfg.ln_gamma, cfg.offset)
    g2 = cfg.gamma ** 2
    k1_direct = dds.compute_keys(v, math.log(g2), cfg.offset)
    k1_remap = dds.collapse_keys(k0, cfg.offset)
    mism = (k1_direct != k1_remap)
    # tolerate float-boundary flips only (ln(v)/ln_gamma within 1 ulp of int)
    assert mism.sum() == 0, v[mism][:10]


# -- batch == sequential (gamma2) --------------------------------------------

def test_batch_equals_sequential_gamma2():
    rng = np.random.default_rng(3)
    vals = rng.uniform(10, 4e5, 4000)  # wide range -> collapse pressure
    cfg = DDSketchConfig(bin_limit=100)
    a = dds.empty(cfg)
    dds.add(a, vals)
    b = dds.empty(cfg)
    for x in vals:
        dds.add_one(b, float(x))
    assert a.level == b.level
    assert np.array_equal(a.keys, b.keys)
    assert np.array_equal(a.counts, b.counts)
    assert a.n == b.n


# -- accuracy vs exact oracle (reference scenario 1) --------------------------

@pytest.mark.parametrize("name", list(reference_streams(10).keys()))
def test_quantile_accuracy_gamma2(name):
    stream = reference_streams(30000)[name]
    sk = build(stream)
    assert sk.sum_bins() == sk.n == len(stream)
    for q in Q_GRID:
        est = dds.quantile(sk, q)
        true = exact_quantile(stream, q)
        rel = abs(est - true) / abs(true)
        assert rel <= sk.alpha + 1e-9, (name, q, est, true, rel, sk.alpha)


@pytest.mark.parametrize("collapse", [LAST, FIRST])
@pytest.mark.parametrize("name", ["uniform_wide", "gamma_2_2"])
def test_quantile_accuracy_band_last_first(collapse, name):
    stream = reference_streams(30000)[name]
    sk = build(stream, bin_limit=200, collapse=collapse)
    lo, hi = dds.error_bound(sk)
    for q in Q_GRID:
        if not (lo < q < hi):
            continue  # inside the documented wrong-quantile band
        est = dds.quantile(sk, q)
        true = exact_quantile(stream, q)
        rel = abs(est - true) / abs(true)
        assert rel <= sk.alpha + 1e-9, (collapse, name, q, est, true, rel)


def test_alpha_trajectory():
    # alpha after gamma^2 collapse = 2a/(1+a^2) (reference: ddsketch.cc:851)
    sk = build(np.random.default_rng(5).uniform(10, 4e5, 3000), bin_limit=100)
    assert sk.level >= 1
    a = CFG.alpha
    for _ in range(sk.level):
        a = 2 * a / (1 + a * a)
    assert sk.alpha == pytest.approx(a, rel=1e-15)
    g = (1 + CFG.alpha) / (1 - CFG.alpha)
    assert sk.gamma == pytest.approx(g ** (2 ** sk.level), rel=1e-12)


def test_bounded_bins():
    for collapse in (GAMMA2, LAST, FIRST):
        sk = build(np.random.default_rng(6).uniform(10, 4e5, 5000),
                   bin_limit=50, collapse=collapse)
        assert sk.size <= 50


# -- merge (reference scenario 2) ---------------------------------------------

def test_merge_equivalence_single_vs_merged():
    streams = reference_streams(20000)
    s1, s2 = streams["normal_2_3"], streams["normal_10_3"]
    a = build(s1)
    b = build(s2)
    merged = dds.merge(a, b)
    single = build(np.concatenate([s1, s2]))
    assert merged.n == single.n == 40000
    assert merged.level == single.level
    assert np.array_equal(merged.keys, single.keys)
    assert np.array_equal(merged.counts, single.counts)
    both = np.concatenate([s1, s2])
    for q in Q_GRID:
        est = dds.quantile(merged, q)
        true = exact_quantile(both, q)
        assert abs(est - true) / abs(true) <= merged.alpha + 1e-9


def test_merge_aligns_levels():
    rng = np.random.default_rng(8)
    fine = build(rng.uniform(1, 100, 2000))              # level 0
    coarse = build(rng.uniform(10, 4e5, 3000), bin_limit=100)  # level >= 1
    coarse_cfg_fine = dds.DDSketch(cfg=fine.cfg, keys=coarse.keys,
                                   counts=coarse.counts, n=coarse.n,
                                   level=coarse.level)
    m = dds.merge(fine, coarse_cfg_fine)
    assert m.level >= coarse.level
    assert m.n == fine.n + coarse.n
    assert m.sum_bins() == m.n


def test_merge_reordering_byte_identical():
    # north-star gate: canonical state identical under any merge order
    rng = np.random.default_rng(9)
    parts = []
    streams = reference_streams(4000)
    for i, (name, s) in enumerate(streams.items()):
        parts.append(build(s, bin_limit=120))
    parts.append(build(rng.uniform(10, 4e5, 4000), bin_limit=120))
    parts.append(build(rng.uniform(-9e4, -1, 4000), bin_limit=120))
    base = dds.to_dict(dds.merge_many(parts))
    for trial in range(6):
        order = rng.permutation(len(parts))
        # pairwise left-fold in a random order
        acc = parts[order[0]].copy()
        for j in order[1:]:
            acc = dds.merge(acc, parts[j])
        assert dds.to_dict(acc) == base, f"order {order} diverged"


def test_merge_incompatible_raises():
    # different collapse strategies / offsets are structural mismatches
    a = build([1.0, 2.0])
    e = build([1.0], collapse=LAST)
    with pytest.raises(dds.MergeError):
        dds.merge(a, e)
    c = build(np.random.default_rng(1).uniform(10, 4e5, 3000),
              bin_limit=100, collapse=LAST)
    d = build([1.0], collapse=LAST)
    d.level = 1  # simulate mismatched resolution (alpha gap > 1e-4)
    with pytest.raises(dds.MergeError):
        dds.merge(c, d)


def test_merge_cross_alpha_reference_semantics():
    """gamma2 merges across DIFFERENT alpha0 now follow the reference's
    tolerance loop (collapse the finer sketch until |da|<=1e-4, raw key
    addition) instead of raising -- bit-level parity is separately pinned
    in test_reference_parity.py::test_merge_parity_cross_alpha."""
    rng = np.random.default_rng(5)
    va, vb = rng.normal(10, 3, 2000), rng.normal(10, 3, 2000)
    a = build(va, alpha=0.008)
    b = build(vb, alpha=0.01605)
    merged = dds.merge(a, b)
    assert merged.n == 4000
    assert merged.sum_bins() == 4000
    assert abs(merged.alpha - dds.empty(
        dds.DDSketchConfig(alpha=0.01605)).alpha) <= 1e-4 + 0.008
    # estimates stay within the COARSER sketch's accuracy on the union
    med = dds.quantile(merged, 0.5)
    true = float(np.quantile(np.concatenate([va, vb]), 0.5))
    assert abs(med - true) / true < 2 * 0.01605


# -- delete (reference scenario 3) --------------------------------------------

def test_delete_roundtrip_gamma2():
    stream = reference_streams(20000)["gamma_2_2"]
    sk = build(stream)
    dds.delete(sk, stream)
    assert sk.n == 0
    assert sk.size == 0


def test_delete_roundtrip_after_collapse():
    stream = np.random.default_rng(12).uniform(10, 4e5, 5000)
    sk = build(stream, bin_limit=100)
    assert sk.level >= 1
    dds.delete(sk, stream)
    assert sk.n == 0 and sk.size == 0


def test_delete_absent_is_silent_noop():
    # quirk Q5: deleting an item with no bin does not decrement n
    sk = build([1.0, 2.0, 3.0])
    n0 = sk.n
    dds.delete(sk, np.array([1e18]))
    assert sk.n == n0
    assert sk.sum_bins() == sk.n


def test_delete_partial_decrements():
    sk = build([5.0] * 10 + [7.0] * 3)
    dds.delete(sk, np.array([5.0] * 4))
    assert sk.n == 9
    assert sk.sum_bins() == 9


@pytest.mark.parametrize("collapse", [LAST, FIRST])
def test_delete_redirects_into_the_absorbed_range(collapse):
    """last/first: a deleted value whose key was folded away (inside the
    absorbed [min_key, max_key] range) comes out of the last/first bin, as
    in the reference (ddsketch.cc:414-422, 478-486), instead of being a
    silent no-op on a bin that no longer exists."""
    vals = [1.0, 2.0, 4.0, 8.0, 16.0, 32.0]  # six distinct keys, bin_limit 4
    sk = build(vals, bin_limit=4, collapse=collapse)
    assert sk.size == 4 and sk.min_key <= sk.max_key
    end = -1 if collapse == LAST else 0
    gone = vals[4] if collapse == LAST else vals[1]  # a folded-away key
    kept = sk.keys.copy()
    dds.delete(sk, np.array([gone]))
    assert sk.n == 5
    assert list(sk.keys) == list(kept)
    assert sk.counts[end] == 2 and sk.sum_bins() == 5


@pytest.mark.parametrize("weights", [[5, -2, 0], [5, 0, 1], [-1, 2, 3]])
def test_add_weighted_rejects_non_positive_weights(weights):
    # a dropped non-positive bin would leave n out of step with sum_bins()
    with pytest.raises(ValueError, match="weights must be positive"):
        dds.add_weighted(dds.empty(), np.array([1.0, 2.0, 3.0]), np.array(weights))
    sk = dds.add_weighted(dds.empty(), np.array([1.0, 2.0, 3.0]), np.array([5, 2, 1]))
    assert sk.n == sk.sum_bins() == 8


# -- quantile edge cases -------------------------------------------------------

def test_quantile_bounds_quirk_q2():
    sk = build([1.0, 2.0, 3.0])
    dds.quantile(sk, 1.01)  # accepted (reference quirk Q2)
    with pytest.raises(dds.QuantileRangeError):
        dds.quantile(sk, 1.02)
    with pytest.raises(dds.QuantileRangeError):
        dds.quantile(sk, -0.1)
    with pytest.raises(dds.SketchError):
        dds.quantile(dds.empty(), 0.5)


def test_quantiles_vectorized_matches_scalar():
    stream = reference_streams(5000)["normal_10_3"]
    sk = build(stream)
    vec = dds.quantiles(sk, Q_GRID)
    for q, e in zip(Q_GRID, vec):
        assert e == dds.quantile(sk, q)


def test_error_bound_semantics():
    sk = build(np.random.default_rng(2).uniform(10, 4e5, 5000),
               bin_limit=100, collapse=LAST)
    lo, hi = dds.error_bound(sk)
    assert lo == 0.0 and 0.0 < hi < 1.0
    assert hi == pytest.approx(1.0 - sk.counts[-1] / sk.n)
    sk2 = build(np.random.default_rng(2).uniform(10, 4e5, 5000),
                bin_limit=100, collapse=FIRST)
    lo2, hi2 = dds.error_bound(sk2)
    assert hi2 == 1.0 and 0.0 < lo2 < 1.0


# -- serialization --------------------------------------------------------------

def test_dict_roundtrip():
    stream = reference_streams(3000)["uniform_neg"]
    sk = build(stream, bin_limit=100, collapse=FIRST)
    d = dds.to_dict(sk)
    back = dds.from_dict(d)
    assert dds.to_dict(back) == d
    assert back.alpha == sk.alpha
