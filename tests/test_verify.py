"""Verification cascade V1–V4 against the oracle's frozen pass policy."""

from __future__ import annotations

from pyspark.sql import functions as F

from nise_dedup.config import DedupConfig
from nise_dedup.signatures import compute_signatures
from nise_dedup.verify import hamming_expr, jaccard_expr, verify_pairs

import oracle as O


def test_jaccard_expr(spark):
    df = spark.createDataFrame(
        [([1, 2, 3], [2, 3, 4]), ([1], [1]), ([1], [2])],
        "a array<long>, b array<long>")
    got = [r["j"] for r in
           df.select(jaccard_expr(F.col("a"), F.col("b")).alias("j")).collect()]
    assert got == [0.5, 1.0, 0.0]


def test_hamming_expr(spark):
    df = spark.createDataFrame([(0, 0), (0, 7), (-1, 0)], "a long, b long")
    got = [r["h"] for r in
           df.select(hamming_expr(F.col("a"), F.col("b")).alias("h")).collect()]
    assert got == [0, 3, 64]


def _docs():
    base = "def compute(a, b):\n" + "\n".join(
        f"    x{i} = a * {i} + b" for i in range(30)) + "\n    return x9\n"
    near = base.replace("x7", "y7")                       # tiny edit
    # block pair: J in (gate, tau_jaccard), Hamming > tau, LCS ratio >= 0.6
    block_a = "\n".join(
        f"alpha_{i} = fetch({i}) + {i * 7}" for i in range(8)) + "\n" + base
    block_b = "\n".join(
        f"beta_{j} = store({j * 3}) - {j}" for j in range(8)) + "\n" + base
    far = "SELECT * FROM t WHERE x > 10 ORDER BY y\n" * 12
    return {1: base, 2: near, 3: block_a, 4: block_b, 5: far}


def test_verify_pairs_matches_oracle_policy(spark):
    cfg = DedupConfig(num_perm=32, bands=8, rows=4, lcs_exact_lengths=True)
    docs = _docs()
    uniq = spark.createDataFrame(list(docs.items()),
                                 "file_id long, content string")
    sigs = compute_signatures(uniq, cfg)
    cand = spark.createDataFrame(
        [(1, 2), (3, 4), (1, 5), (2, 3)], "a long, b long")
    got = {(r["a"], r["b"]): r for r in
           verify_pairs(cand, sigs, uniq, cfg).collect()}
    assert set(got) == {(1, 2), (3, 4), (1, 5), (2, 3)}

    # oracle-side: same cascade with pure-python measures
    sigs_o = {}
    for fid, text in docs.items():
        sh = O.shingle_hashes(
            O.normalize_text(text, cfg.normalize).encode(), cfg.shingle_k)
        mh = O.minhash_oph(sh, cfg.num_perm, cfg.seed)
        sigs_o[fid] = (sh, mh, O.simhash64(sh))
    for (a, b), row in got.items():
        sha, mha, sim_a = sigs_o[a]
        shb, mhb, sim_b = sigs_o[b]
        m = min(cfg.est_components, cfg.num_perm)
        matches = sum(1 for x, y in zip(mha[:m], mhb[:m])
                      if (x & 3) == (y & 3))
        est = (matches / m - 0.25) / 0.75
        h = O.hamming(sim_a, sim_b)
        assert abs(row["est"] - est) < 1e-12, (a, b)
        assert row["hamming"] == h, (a, b)
        fast_pass = h <= cfg.tau_hamming or est >= cfg.est_accept
        j = -1.0
        if not fast_pass and est >= cfg.est_exact_gate:
            j = O.jaccard(sha, shb)
        assert abs(row["jaccard"] - j) < 1e-12, (a, b)
        passed = fast_pass or j >= cfg.tau_jaccard
        if not passed and est >= cfg.tau_lcs_gate:
            na = O.normalize_text(docs[a], cfg.normalize).encode()
            nb = O.normalize_text(docs[b], cfg.normalize).encode()
            lcs = O.longest_common_substring(na, nb)
            if row["lcs_len"] >= 0:      # -1 = skipped by the sound prefilter
                assert row["lcs_len"] == lcs, (a, b)
            passed = lcs >= max(cfg.tau_lcs_min_bytes,
                                cfg.tau_lcs_ratio * min(len(na), len(nb)))
        assert row["passed"] == passed, (a, b, row)
    # sanity on the fixture's intent
    assert got[(1, 2)]["passed"]       # near-identical
    assert got[(3, 4)]["passed"]       # block copy -> LCS catch
    assert got[(3, 4)]["lcs_len"] > 0  # LCS actually ran
    assert not got[(1, 5)]["passed"]   # unrelated


def test_lcs_disabled(spark):
    cfg = DedupConfig(num_perm=32, bands=8, rows=4, lcs_enabled=False)
    docs = _docs()
    uniq = spark.createDataFrame(list(docs.items()),
                                 "file_id long, content string")
    sigs = compute_signatures(uniq, cfg)
    cand = spark.createDataFrame([(3, 4)], "a long, b long")
    row = verify_pairs(cand, sigs, uniq, cfg).collect()[0]
    assert row["lcs_len"] == -1


def test_lcs_threshold_boundary_parity():
    """ADVICE round 1: the integer LCS threshold must be the CEILING of
    ratio*min_len, matching the oracle's float comparison — a pair whose
    LCS is int(ratio*min_len) but below the float value must NOT pass."""
    import pandas as pd

    from nise_dedup.verify import _deep_mapper_joined

    cfg = DedupConfig(normalize="none")
    # min_len = 1024 -> ratio*min_len = 614.4 (fractional on purpose)
    a614, b614 = "c" * 614 + "a" * 410, "c" * 614 + "b" * 410
    a615, b615 = "c" * 615 + "a" * 409, "c" * 615 + "b" * 409
    # content-joined pair rows; est 0.40 puts the pairs in the LCS band —
    # >= tau_lcs_gate (0.35), < est_exact_gate (0.45)
    pdf = pd.DataFrame({
        "a": [1, 3],
        "b": [2, 4],
        "est": [0.40, 0.40],
        "content_a": [a614, a615],
        "content_b": [b614, b615]})
    out = pd.concat(list(_deep_mapper_joined(cfg)(iter([pdf]))))
    got = dict(zip(out["a"], out["deep_pass"]))
    # oracle formula: lcs_len >= max(floor, ratio * min_len) as floats
    assert bool(got[1]) is (614 >= max(cfg.tau_lcs_min_bytes,
                                       cfg.tau_lcs_ratio * 1024))  # False
    assert bool(got[3]) is (615 >= max(cfg.tau_lcs_min_bytes,
                                       cfg.tau_lcs_ratio * 1024))  # True
    assert not got[1] and got[3]


def test_deep_budget_caps_deep_stage_est_descending(spark):
    """escalate_deep_budget plumbing: deep_budget=N keeps only the top-N
    est-ranked pairs in the deep stage; dropped pairs keep their SKETCH
    verdicts (identical to pairs below the est gates), fast-pass pairs are
    never affected. Round-5 rationale in DedupConfig.escalate_deep_budget
    (1.39M noise deep-verifications for 2 recoveries at the 1M corpus)."""
    cfg = DedupConfig(num_perm=32, bands=8, rows=4)
    docs = _docs()
    uniq = spark.createDataFrame(list(docs.items()),
                                 "file_id long, content string")
    sigs = compute_signatures(uniq, cfg)
    cand = spark.createDataFrame(
        [(1, 2), (3, 4), (1, 5), (2, 3)], "a long, b long")

    base = {(r["a"], r["b"]): r for r in
            verify_pairs(cand, sigs, uniq, cfg).collect()}
    deep_pairs = {k for k, r in base.items()
                  if r["jaccard"] != -1.0 or r["lcs_len"] != -1}
    assert len(deep_pairs) >= 2, "fixture must exercise the deep stage"

    got = {(r["a"], r["b"]): r for r in
           verify_pairs(cand, sigs, uniq, cfg, deep_budget=1).collect()}
    got_deep = {k for k, r in got.items()
                if r["jaccard"] != -1.0 or r["lcs_len"] != -1}
    assert len(got_deep) == 1
    assert got_deep <= deep_pairs
    # non-deep verdicts identical to the unbudgeted run
    for k in set(base) - deep_pairs:
        assert got[k]["passed"] == base[k]["passed"]
    # budget-dropped deep pairs fall back to their sketch verdict (fail,
    # since deep-gated pairs by definition did not fast-pass)
    for k in deep_pairs - got_deep:
        assert not got[k]["passed"]
        assert got[k]["jaccard"] == -1.0 and got[k]["lcs_len"] == -1

    # budget 0 = off: bit-identical to the unbudgeted call
    off = {(r["a"], r["b"]): r for r in
           verify_pairs(cand, sigs, uniq, cfg, deep_budget=0).collect()}
    assert {k: (r["passed"], r["jaccard"], r["lcs_len"])
            for k, r in off.items()} == \
           {k: (r["passed"], r["jaccard"], r["lcs_len"])
            for k, r in base.items()}
