"""pLogo statistic (numpy binomial tails)."""

import math

import pytest


from seqtables_spark import from_list
from seqtables_spark.operators.plogo import _binom_log_tails, get_plogo


def exact_tails(n, p, k):
    from math import comb, log10

    sf = sum(comb(n, i) * p**i * (1 - p) ** (n - i) for i in range(k, n + 1))
    cdf = sum(comb(n, i) * p**i * (1 - p) ** (n - i) for i in range(0, k + 1))
    return log10(sf), log10(cdf)


def test_binom_log_tails_vs_exact():
    ks, ns, ps = [0, 3, 10, 250], [10, 10, 10, 500], [0.25] * 4
    sf, cdf = _binom_log_tails(ks, ns, ps)
    for i, (k, n, p) in enumerate(zip(ks, ns, ps)):
        esf, ecdf = exact_tails(n, p, k)
        assert abs(sf[i] - esf) < 1e-12
        assert abs(cdf[i] - ecdf) < 1e-12


def test_plogo_end_to_end(spark):
    # 4 reads, all 'A' at position 1: strong over-representation vs 1/4
    st = from_list(spark, ["AC", "AC", "AC", "AT"])
    rows = get_plogo(st.cells(with_qual=False)).collect()
    by = {(r["position"], r["base"]): r for r in rows}
    a1 = by[(1, "A")]
    assert a1["k"] == 4 and a1["n"] == 4 and a1["p_bg"] == 0.25
    # -(log10 P(X>=4) - log10 P(X<=4)) = -(4*log10(1/4) - 0)
    expect = -4 * math.log10(0.25)
    assert abs(a1["plogo"] - expect) < 1e-9
    assert a1["significance"] < 0
